package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{HeavyHitters, Hits, LabelPropagation}

/** Round-9 specs: advice-fix regressions (Hits empty-graph guard,
  * HeavyHitters partition clamp, TxnTable NULL-key CDC classification)
  * and LabelPropagation invariants.
  */
class Round9Spec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("Hits.scores fails fast with a clear message on an empty graph") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    val ex = intercept[IllegalArgumentException] {
      Hits.scores(empty, "src", "dst", iters = 1)
    }
    assert(ex.getMessage.contains("empty graph"))
  }

  test("HeavyHitters.topK clamps (not throws) on high partition counts") {
    import spark.implicits._
    // capacity 2^20 × 128 partitions = 2^27 candidates > 2^26 bound:
    // pre-fix this threw; now the sketch pass coalesces and recounts
    // exactly.
    val words = (1 to 2000).map(i => s"w${i % 7}").toDF("w")
      .repartition(128)
    val top = HeavyHitters.topK(words, "w", k = 3, capacity = 1 << 20)
      .collect()
    assert(top.length == 3)
    // exact recount: w1..w5 appear 286 times, w0/w6 285 (2000 = 7×285+5)
    assert(top.map(_.getLong(1)).forall(_ == 286L))
    assert(top.map(_.getString(0)).toSeq == Seq("w1", "w2", "w3"))
  }

  test("TxnTable cdc/cdf classify NULL-keyed rows as update, not insert") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_cdc_null").toString
    val v0 = Seq((Some(1L), "a"), (None, "x"))
      .toDF("k", "v")
    val v1 = Seq((Some(1L), "a"), (None, "y"))
      .toDF("k", "v")
    graft.table.TxnTable.create(spark, root, v0, Seq("k"))
    graft.table.TxnTable.overwrite(spark, root, v1, Seq("k"))
    val cdc = graft.table.TxnTable
      .cdc(spark, root, 0L, 1L, Seq("k")).collect()
    // the NULL-keyed row changed x→y: exactly one change, an update
    assert(cdc.length == 1)
    assert(cdc.head.getAs[String]("_change_type") == "update")
    assert(cdc.head.isNullAt(cdc.head.fieldIndex("k")))
    val cdf = graft.table.TxnTable
      .cdf(spark, root, 0L, 1L, Seq("k")).collect()
    assert(cdf.map(_.getAs[String]("_change_type")).sorted.toSeq ==
      Seq("update_postimage", "update_preimage"))
  }

  test("LabelPropagation merges a clique to one label, keeps components apart") {
    import spark.implicits._
    // two disjoint triangles: {1,2,3} and {10,11,12}
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("src", "dst")
    val lbl = LabelPropagation.labels(e, "src", "dst", iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(lbl.keySet == Set(1L, 2L, 3L, 10L, 11L, 12L))
    assert(Set(lbl(1L), lbl(2L), lbl(3L)).size == 1)
    assert(Set(lbl(10L), lbl(11L), lbl(12L)).size == 1)
    assert(lbl(1L) != lbl(10L))
    // min-label tie-break on a symmetric triangle settles on the min id
    assert(lbl(1L) == 1L && lbl(10L) == 10L)
  }

  test("LabelPropagation rejects an empty / self-loop-only graph") {
    import spark.implicits._
    val loops = Seq((1L, 1L), (2L, 2L)).toDF("src", "dst")
    val ex = intercept[IllegalArgumentException] {
      LabelPropagation.labels(loops, "src", "dst", iters = 1)
    }
    assert(ex.getMessage.contains("empty graph"))
  }
}
