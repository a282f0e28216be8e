package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Schema-adaptive event time (SparkEntry.eventTsUs): an event query
  * must produce IDENTICAL results whether `events.ts` arrives as a native
  * TIMESTAMP column (current fixtures, every production lake), as
  * TIMESTAMP_NTZ, or as LongType epoch-nanoseconds (the legacy
  * TIMESTAMP(NANOS) read under spark.sql.legacy.parquet.nanosAsLong).
  * The r6 fixture regeneration flipped the encoding and broke 17 queries
  * at analysis — this spec pins every path so an encoding flip can never
  * be silent again. `q_dispersion` is the event query left that reads
  * `ts` through eventTsUs.
  */
class EventTimeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  /** Three sibling fixture dirs built from the same sf0.001 events:
    * ts as native TIMESTAMP, as TIMESTAMP_NTZ, and as LongType
    * epoch-ns — one per eventTsUs branch.
    */
  private lazy val (nativeDir, ntzDir, legacyNsDir) = {
    val root = java.nio.file.Files.createTempDirectory("graft_ts_enc")
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val tsUs = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts DIV 1000")
      case _ => unix_micros(col("ts").cast("timestamp"))
    }
    val asNative = ev.withColumn("ts",
      timestamp_micros(tsUs.cast("long")))
    // session TZ is UTC, so the NTZ local time equals the instant's UTC
    // wall clock and the cast back in eventTsUs is exact
    val asNtz = asNative.withColumn("ts", col("ts").cast("timestamp_ntz"))
    val asLegacy = ev.withColumn("ts", (tsUs * 1000L).cast("long"))
    asNative.write.parquet(s"$root/native/events.parquet")
    asNtz.write.parquet(s"$root/ntz/events.parquet")
    asLegacy.write.parquet(s"$root/legacy/events.parquet")
    (s"$root/native", s"$root/ntz", s"$root/legacy")
  }

  private def run(name: String, dir: String): Seq[String] =
    SparkEntry.queries(name)(spark, dir)
      .collect().map(_.toString).toSeq

  for (q <- Seq("q_dispersion"))
    test(s"$q: TIMESTAMP, TIMESTAMP_NTZ and long-ns event encodings produce identical results") {
      val native = run(q, nativeDir)
      val ntz = run(q, ntzDir)
      val legacy = run(q, legacyNsDir)
      assert(native.nonEmpty, s"$q returned no rows")
      assert(native == legacy,
        s"$q diverges between TIMESTAMP and long-ns (${native.length} vs ${legacy.length} rows)")
      assert(native == ntz,
        s"$q diverges between TIMESTAMP and TIMESTAMP_NTZ (${native.length} vs ${ntz.length} rows)")
    }

  test("eventTsUs rejects an unsupported ts type loudly") {
    val root = java.nio.file.Files.createTempDirectory("graft_ts_bad")
    spark.read.parquet(s"$sf/events.parquet")
      .withColumn("ts", lit("not-a-timestamp"))
      .write.parquet(s"$root/bad/events.parquet")
    val e = intercept[Exception] {
      SparkEntry.queries("q_dispersion")(spark, s"$root/bad").collect()
    }
    assert(e.getMessage.contains("unsupported event-time type"),
      s"expected a named encoding error, got: ${e.getMessage}")
  }
}
