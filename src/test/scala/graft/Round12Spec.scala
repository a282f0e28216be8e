package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.table.TxnTable

/** Round-12 guarantees: FILE-GROUP copy-on-write for SQL UPDATE /
  * MERGE INTO ([[graft.table.GraftRowLevelOperation]]) — a selective
  * statement rewrites O(matched files), not O(table), with every
  * untouched manifest entry carried VERBATIM — plus array-column COW
  * (embedding payloads take SQL DML) and physical-name writing under
  * an active column mapping.
  */
class Round12Spec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_r12").toString

  private def cat(root: String, name: String): String = {
    val p = new org.apache.hadoop.fs.Path(root)
    spark.conf.set(s"spark.sql.catalog.$name", "graft.table.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse",
      p.getParent.toString)
    s"$name.`${p.getName}`"
  }

  /** 4 range-partitioned files over k∈[0,400) with k-stats. */
  private def rangedTable(root: String,
      statsCols: Seq[String] = Seq("k")): Unit = {
    val df = spark.range(0, 400)
      .select(col("id").as("k"),
        (col("id") % 7).cast("double").as("score"))
      .repartitionByRange(4, col("k"))
    TxnTable.create(spark, root, df, statsCols)
    assert(TxnTable.readManifest(spark, root, 0L).files.size == 4)
  }

  test("selective SQL UPDATE rewrites only matched file groups: " +
      "untouched manifest entries survive verbatim, new files are " +
      "O(matched), rows exact") {
    val root = freshRoot()
    rangedTable(root)
    val t = cat(root, "gcat_r12a")
    val before = TxnTable.readManifest(spark, root, 0L).files
    spark.sql(s"UPDATE $t SET score = -1.0 WHERE k = 5")
    val after = TxnTable.readManifest(spark, root, 1L).files
    val kept = after.map(_.path).toSet intersect before.map(_.path).toSet
    val fresh = after.filterNot(f => kept(f.path))
    // k=5 lives in exactly one of the four range files: three originals
    // must carry forward BYTE-IDENTICAL (same path, same entry), and
    // the replacement is O(1 matched file), never O(table)
    assert(kept.size == 3,
      s"expected 3 carried files, got ${kept.size} " +
        s"(before=${before.size}, after=${after.size})")
    assert(before.filter(f => kept(f.path)) ==
      after.filter(f => kept(f.path)),
      "carried entries must be verbatim")
    assert(fresh.nonEmpty && fresh.forall(_.path.contains("/cow-")))
    // the replacement rows are exactly the one matched file's 100 rows
    assert(fresh.map(_.rows).sum == 100L,
      s"replacement group should hold 100 rows, got ${fresh.map(_.rows).sum}")
    val snap = TxnTable.snapshot(spark, root)
    assert(snap.filter(col("score") === -1.0).select("k")
      .as[Long].collect().toSeq == Seq(5L))
    assert(snap.count() == 400L)
    assert(snap.agg(sum("score")).as[Double].head() ==
      (0L until 400L).map(k => if (k == 5) -1.0 else (k % 7).toDouble).sum)
  }

  test("selective MERGE INTO prunes to matched file groups and still " +
      "inserts unmatched source rows") {
    val root = freshRoot()
    rangedTable(root)
    val t = cat(root, "gcat_r12b")
    val before = TxnTable.readManifest(spark, root, 0L).files
    // touches k=7 (first range file) and inserts k=1000 (no file)
    Seq((7L, 100.0), (1000L, 200.0)).toDF("k", "score")
      .createOrReplaceTempView("r12_mrg_src")
    spark.sql(
      s"""MERGE INTO $t t USING r12_mrg_src s ON t.k = s.k
         WHEN MATCHED THEN UPDATE SET score = s.score
         WHEN NOT MATCHED THEN INSERT *""")
    val after = TxnTable.readManifest(spark, root, 1L).files
    val kept = after.map(_.path).toSet intersect before.map(_.path).toSet
    assert(kept.size == 3, s"expected 3 carried files, got ${kept.size}")
    val snap = TxnTable.snapshot(spark, root)
    assert(snap.count() == 401L)
    assert(snap.filter(col("k") === 7L).select("score")
      .as[Double].head() == 100.0)
    assert(snap.filter(col("k") === 1000L).select("score")
      .as[Double].head() == 200.0)
  }

  test("unconditioned UPDATE still replaces the whole table (no stale " +
      "carry), and history records the command") {
    val root = freshRoot()
    rangedTable(root)
    val t = cat(root, "gcat_r12c")
    spark.sql(s"UPDATE $t SET score = score + 1.0")
    val before = TxnTable.readManifest(spark, root, 0L).files.map(_.path)
    val after = TxnTable.readManifest(spark, root, 1L).files.map(_.path)
    assert(after.toSet.intersect(before.toSet).isEmpty,
      "a whole-table update must replace every file")
    assert(TxnTable.snapshot(spark, root).agg(sum("score"))
      .as[Double].head() ==
      (0L until 400L).map(k => (k % 7).toDouble + 1.0).sum)
    assert(TxnTable.history(spark, root).select("op").as[String]
      .collect().toSeq == Seq("create", "update"))
  }

  test("SQL UPDATE on a table carrying an ARRAY<FLOAT> embedding " +
      "column: arrays survive the COW rewrite bit-exact") {
    val root = freshRoot()
    val df = spark.range(0, 60)
      .select(col("id").as("k"),
        array(col("id").cast("float"), lit(0.5f),
          (col("id") * 2).cast("float")).as("emb"),
        (col("id") % 3).cast("double").as("score"))
      .repartitionByRange(3, col("k"))
    TxnTable.create(spark, root, df, Seq("k"))
    val t = cat(root, "gcat_r12d")
    spark.sql(s"UPDATE $t SET score = 99.0 WHERE k = 10")
    val snap = TxnTable.snapshot(spark, root)
    assert(snap.count() == 60L)
    assert(snap.filter(col("k") === 10L)
      .select("score").as[Double].head() == 99.0)
    // the rewritten file's arrays must round-trip exactly
    val emb10 = snap.filter(col("k") === 10L)
      .select("emb").as[Seq[Float]].head()
    assert(emb10 == Seq(10.0f, 0.5f, 20.0f))
    // and untouched files' arrays are untouched by construction
    assert(snap.select(explode(col("emb")).as("e")).agg(sum("e"))
      .as[Double].head() ==
      (0L until 60L).map(k => k.toDouble + 0.5 + 2.0 * k).sum)
    // file-group pruning applied here too: 2 of 3 files carried
    val before = TxnTable.readManifest(spark, root, 0L).files.map(_.path)
    val after = TxnTable.readManifest(spark, root, 1L).files.map(_.path)
    assert(after.toSet.intersect(before.toSet).size == 2)
  }

  test("SQL UPDATE under an active column mapping writes PHYSICAL " +
      "names: kept and new files co-read under one schema") {
    val root = freshRoot()
    val df = spark.range(0, 40)
      .select(col("id").as("k"),
        (col("id") % 5).cast("double").as("score"))
      .repartitionByRange(2, col("k"))
    TxnTable.create(spark, root, df, Seq("k"))
    TxnTable.renameColumn(spark, root, "score", "pts")
    val t = cat(root, "gcat_r12e")
    spark.sql(s"UPDATE $t SET pts = 42.0 WHERE k = 30")
    val m = TxnTable.readManifest(spark, root, 2L)
    assert(m.colMap.exists(_.get("pts").contains("score")),
      "partial COW must carry the column mapping forward")
    // one file carried (k=30 lives in the second range file)
    assert(m.files.map(_.path).toSet
      .intersect(TxnTable.readManifest(spark, root, 0L).files
        .map(_.path).toSet).size == 1)
    val snap = TxnTable.snapshot(spark, root)
    assert(snap.columns.toSeq == Seq("k", "pts"))
    assert(snap.filter(col("k") === 30L).select("pts")
      .as[Double].head() == 42.0)
    assert(snap.filter(col("k") === 1L).select("pts")
      .as[Double].head() == 1.0)
    assert(snap.count() == 40L)
  }

  test("COW-rewritten files carry per-file min/max stats: manifest " +
      "pruning does not degrade across SQL UPDATEs") {
    val root = freshRoot()
    rangedTable(root, statsCols = Seq("k", "score"))
    val t = cat(root, "gcat_r12g")
    spark.sql(s"UPDATE $t SET score = -1.0 WHERE k = 5")
    val before = TxnTable.readManifest(spark, root, 0L).files
      .map(_.path).toSet
    val fresh = TxnTable.readManifest(spark, root, 1L).files
      .filterNot(f => before(f.path))
    assert(fresh.nonEmpty)
    fresh.foreach { f =>
      assert(f.stats.contains("k") && f.stats.contains("score"),
        s"rewritten file ${f.path} lost its pruning stats: ${f.stats}")
      // the matched group held k in [0, 100): the rewrite's stats must
      // stay inside it (accurate, not inherited from the whole table)
      assert(f.stats("k").min >= 0.0 && f.stats("k").max <= 99.0,
        s"stats drifted: ${f.stats("k")}")
    }
    assert(fresh.exists(_.stats("score").min == -1.0),
      "the updated value must be visible in the new stats")
    // and a range probe on the untouched half still prunes to one file
    val probed = TxnTable.snapshotWhere(spark, root,
      col("k").between(300L, 399L))
    assert(probed.count() == 100L)
  }

  test("stats are opt-in under COW: rewritten files carry exactly the " +
      "base manifest's stats key set, not every numeric column") {
    val root = freshRoot()
    rangedTable(root) // stats on k ONLY
    val t = cat(root, "gcat_r12s")
    spark.sql(s"UPDATE $t SET score = -1.0 WHERE k = 5")
    val before = TxnTable.readManifest(spark, root, 0L).files
      .map(_.path).toSet
    val fresh = TxnTable.readManifest(spark, root, 1L).files
      .filterNot(f => before(f.path)).filter(_.rows > 0)
    assert(fresh.nonEmpty)
    fresh.foreach { f =>
      assert(f.stats.keySet == Set("k"),
        s"rewritten file must carry the opted-in stats set {k}, " +
          s"got ${f.stats.keySet}")
    }
  }

  test("NaN poisons a column's per-file stats instead of the manifest: " +
      "a COW rewrite that writes NaN ships NO stats for that column, " +
      "k-stats survive, and NaN rows are never stats-pruned away") {
    val root = freshRoot()
    rangedTable(root, statsCols = Seq("k", "score"))
    val t = cat(root, "gcat_r12n")
    spark.sql(
      s"UPDATE $t SET score = CAST('NaN' AS DOUBLE) WHERE k = 7")
    val before = TxnTable.readManifest(spark, root, 0L).files
      .map(_.path).toSet
    val m = TxnTable.readManifest(spark, root, 1L)
    val fresh = m.files.filterNot(f => before(f.path)).filter(_.rows > 0)
    assert(fresh.nonEmpty)
    // the group holding k=7 was rewritten with a NaN in score: its
    // score stats must be ABSENT (sound: never pruned), k stats intact
    assert(fresh.forall(f => !f.stats.contains("score")),
      s"NaN file group must drop score stats, got ${fresh.map(_.stats)}")
    assert(fresh.forall(f => f.stats.contains("k")),
      "k stats must survive the NaN in an unrelated column")
    // the manifest must survive a JSON round-trip (NaN is not JSON)
    assert(TxnTable.readManifest(spark, root, 1L).version == 1L)
    // NaN orders LARGEST in Spark: score > 6 must still find the NaN
    // row — a NaN-excluding stats window would have pruned its file
    val hits = TxnTable.snapshotWhere(spark, root, col("score") > 6.0)
    assert(hits.filter(col("k") === 7L).count() == 1L,
      "the NaN row was stats-pruned away — unsound stats window")
    // base writeFiles path: creating a table WITH a NaN also drops
    // only that column's stats for the affected file
    val root2 = freshRoot()
    val df2 = spark.range(0, 10)
      .select(col("id").as("k"),
        when(col("id") === 3L, lit(Double.NaN))
          .otherwise(col("id").cast("double")).as("score"))
      .coalesce(1)
    TxnTable.create(spark, root2, df2, Seq("k", "score"))
    val f2 = TxnTable.readManifest(spark, root2, 0L).files.head
    assert(f2.stats.contains("k") && !f2.stats.contains("score"),
      s"base writer must drop NaN-poisoned score stats, got ${f2.stats}")
  }

  test("COW rewrites preserve clustering: a two-group UPDATE comes " +
      "back range-distributed and sorted on the stats column, so the " +
      "new files' ranges stay disjoint and pruning stays tight") {
    val root = freshRoot()
    rangedTable(root)
    val t = cat(root, "gcat_r12h")
    // touches the first two range files (k=5 and k=150)
    spark.sql(s"UPDATE $t SET score = -2.0 WHERE k = 5 OR k = 150")
    val before = TxnTable.readManifest(spark, root, 0L).files
      .map(_.path).toSet
    val fresh = TxnTable.readManifest(spark, root, 1L).files
      .filterNot(f => before(f.path))
      .filter(_.rows > 0)
    assert(fresh.map(_.rows).sum == 200L,
      s"two 100-row groups expected, got ${fresh.map(_.rows)}")
    // ordered distribution on k: the rewritten files' k-ranges must
    // not overlap (arbitrary shuffle residue would interleave them)
    val ranges = fresh.map(_.stats("k")).sortBy(_.min)
    ranges.sliding(2).foreach {
      case Seq(a, b) => assert(a.max < b.min,
        s"rewritten file ranges overlap: $ranges")
      case _ => ()
    }
    // coverage exact: both groups' keys present, rows correct
    val snap = TxnTable.snapshot(spark, root)
    assert(snap.filter(col("score") === -2.0).select("k")
      .as[Long].collect().sorted.toSeq == Seq(5L, 150L))
    assert(snap.count() == 400L)
  }

  test("DSv2 scans report manifest statistics: a small graft table " +
      "auto-broadcasts against a large probe side") {
    val root = freshRoot()
    TxnTable.create(spark, root,
      spark.range(0, 50).select(col("id").as("k"),
        (col("id") % 7).cast("double").as("score")), Seq("k"))
    val g = spark.read.format("graft.table.GraftTableProvider").load(root)
    val big = spark.range(0, 200000).select(col("id").as("k"),
      (col("id") * 2).as("payload"))
    val plan = big.join(g, "k").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"manifest-sized graft scan should broadcast:\n$plan")
    assert(big.join(g, "k").count() == 50L)
  }

  test("the `_file` metadata column is queryable and matches the " +
      "manifest file set") {
    val root = freshRoot()
    rangedTable(root)
    val t = cat(root, "gcat_r12f")
    val perFile = spark.sql(
      s"SELECT _file, COUNT(*) AS n FROM $t GROUP BY _file")
      .as[(String, Long)].collect().toMap
    val m = TxnTable.readManifest(spark, root, 0L)
    assert(perFile.keySet == m.files.map(_.path).toSet)
    assert(m.files.forall(f => perFile(f.path) == f.rows))
  }
}
