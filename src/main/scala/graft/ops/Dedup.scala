package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Scale design (100 TB): every near-dup method below follows the same
  * shape — per-row signature (narrow map) → explode to banding buckets →
  * ONE shuffle on bucket key → in-bucket candidate pairs → cheap verify.
  * Nothing is ever all-pairs; cost is O(n · bands) + bucket-local joins.
  * Skewed buckets (boilerplate text) are capped at `maxBucketSize` by id
  * order before pair generation: work per bucket is bounded, and a doc cut
  * from one hot bucket still pairs through its other bands.
  *
  * All signatures are deterministic (seeded splitmix64), so results are
  * reproducible across runs and cluster layouts.
  */
object Dedup {

  // ---- hashing primitives: ONE definition in graft.util.Hashing ----
  import graft.util.Hashing.{mix64, fnv => hashString}

  /** Word w-shingles of a text as a distinct hash set. */
  def shingles(text: String, w: Int): Array[Long] = {
    val words = text.toLowerCase.split("\\W+").filter(_.nonEmpty)
    if (words.length < w) {
      if (words.isEmpty) Array.empty
      else Array(hashString(words.mkString(" ")))
    } else {
      val out = new java.util.HashSet[java.lang.Long]()
      var i = 0
      while (i + w <= words.length) {
        var h = 0xcbf29ce484222325L
        var j = i
        while (j < i + w) { h = mix64(h ^ hashString(words(j))); j += 1 }
        out.add(h)
        i += 1
      }
      val arr = new Array[Long](out.size)
      val it = out.iterator(); var k = 0
      while (it.hasNext) { arr(k) = it.next(); k += 1 }
      arr
    }
  }

  /** MinHash signature: for each of k seeds, min over shingles of
    * mix64(shingle ^ seed) — the standard one-pass k-mins scheme.
    */
  def minHashSignature(sh: Array[Long], k: Int): Array[Long] = {
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < sh.length) {
      var s = 0
      while (s < k) {
        val h = mix64(sh(i) ^ (0x5851f42d4c957f2dL * (s + 1)))
        if (h < sig(s)) sig(s) = h
        s += 1
      }
      i += 1
    }
    sig
  }

  /** 64-bit SimHash over word unigrams+bigrams. */
  def simHash(text: String): Long = {
    val words = text.toLowerCase.split("\\W+").filter(_.nonEmpty)
    val acc = new Array[Int](64)
    def add(h: Long): Unit = {
      var b = 0
      while (b < 64) { if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1; b += 1 }
    }
    var i = 0
    while (i < words.length) {
      val h = mix64(hashString(words(i)))
      add(h)
      if (i > 0) add(mix64(h ^ hashString(words(i - 1))))
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  def jaccard(a: Array[Long], b: Array[Long]): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    if (a.isEmpty || b.isEmpty) return 0.0
    val sa = a.toSet
    val inter = b.count(sa.contains)
    inter.toDouble / (a.length + b.length - inter)
  }

  // ---- DataFrame operators ----

  /** Exact dedup by content hash: adds `content_hash`, `is_duplicate`
    * (true for every row after the minimum-id keeper). Single shuffle on
    * the hash; at 100 TB use the two-level agg Spark already plans
    * (partial count per partition).
    */
  def exactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hashed = df.withColumn("content_hash", md5(col(textCol)))
    val keepers = hashed.groupBy("content_hash")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
    hashed.join(keepers, "content_hash")
      .withColumn("is_duplicate", col(idCol) =!= col("keep_id"))
  }

  private val shinglesUdf =
    udf((text: String, w: Int) => shingles(Option(text).getOrElse(""), w))
  private val minhashUdf =
    udf((sh: Array[Long], k: Int) => minHashSignature(sh, k))
  private val simhashUdf =
    udf((text: String) => simHash(Option(text).getOrElse("")))
  private val sigJaccardUdf = udf { (a: Array[Long], b: Array[Long]) =>
    var eq = 0; var i = 0
    while (i < a.length) { if (a(i) == b(i)) eq += 1; i += 1 }
    eq.toDouble / a.length
  }
  private val exactJaccardUdf =
    udf((a: Array[Long], b: Array[Long]) => jaccard(a, b))
  /** All unordered pairs of a (capped) bucket's sorted id list. */
  private val bucketPairsUdf =
    udf((ids: Seq[Long]) => graft.util.Hashing.bucketPairs(ids))

  /** MinHash + LSH banding near-dup candidate pairs, verified two ways:
    * signature-estimated Jaccard (cheap, no text re-join) and exact
    * shingle-set Jaccard (carried sets — drop this column at true scale or
    * re-join text). Returns (doc_a, doc_b, est_jaccard, jaccard) pairs with
    * est >= threshold.
    *
    * bands*rowsPerBand = k. S-curve: threshold ~ (1/bands)^(1/rowsPerBand).
    */
  def minHashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleWidth: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      maxBucketSize: Int = 64
  ): DataFrame = {
    // defaults: 16 bands × 4 rows. Recall at j=0.9 (near-dup territory):
    // 1-(1-0.9^4)^16 ≈ 1-4e-8; false-candidate rate for unrelated docs
    // (j≈0.1) is ~16·1e-4. Doubling to 128/32 buys nothing at these
    // margins and doubles signature + explode cost.
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // (A pre-UDF repartition-to-parallelism was tried here and REVERTED —
    // measured 1.7× slower solo: the kernel's cost is its stage/bucket
    // structure, not the UDF pass, and the extra exchange broke
    // downstream reuse.)
    // The signature table is consumed three times (banding + both sides of
    // the pair verify join); persist it so shingling/minhashing runs once.
    // At cluster scale the same role is played by writing the signature
    // table out once and joining against it (SURVEY.md §7.6).
    val sigs = df.select(
        col(idCol).cast("long").as("doc_id"),
        shinglesUdf(col(textCol), lit(shingleWidth)).as("sh"))
      .withColumn("sig", minhashUdf(col("sh"), lit(numHashes)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Phase A — candidate discovery. Only (doc_id, band, bucket) flows
    // through the ×bands explode and the bucket shuffle; the KB-sized
    // sig/shingle arrays stay out of the wide plan (carrying them
    // multiplied shuffle bytes by ~bands and dominated runtime).
    val banded = bandRows(sigs, bands, rows)
    // One shuffle: hash-agg doc ids per (band, bucket), cap pathological
    // buckets (boilerplate) at maxBucketSize by id order — the overflow is
    // bounded, not silently unbounded work — then emit in-bucket pair
    // combinations. (A window+self-join does the same with an extra sort
    // and an extra shuffle.)
    val candidates = banded
      .groupBy("band", "bucket")
      .agg(slice(sort_array(collect_list(col("doc_id"))), 1, maxBucketSize)
        .as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(bucketPairsUdf(col("ids"))).as("p"))
      .select(col("p._1").as("doc_a"), col("p._2").as("doc_b"))
      .distinct() // collapse the up-to-`bands` copies BEFORE verification
    // Phase B — verify: join signatures back per candidate pair. Shuffle
    // volume is O(pairs + docs), independent of `bands`. Both join sides
    // read the PERSISTED sigs table (see above) — the cache is bounded at
    // one entry per input plan by the CacheManager and lives until
    // session stop; at cluster scale the same role is played by a
    // written-out signature table.
    candidates
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"),
        col("sh").as("sh_a")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"),
        col("sh").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        sigJaccardUdf(col("sig_a"), col("sig_b")).as("est_jaccard"),
        exactJaccardUdf(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** SimHash near-dup pairs: 4 bands of 16 bits as LSH, verified by
    * hamming distance <= maxHamming. Same single-shuffle shape.
    */
  def simHashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 256
  ): DataFrame = {
    val sigs = df.select(
      col(idCol).cast("long").as("doc_id"),
      simhashUdf(col(textCol)).as("sim"))
    // candidate pairs on (band, bucket) only — pair copies collapsed
    // before the hamming verify (same one-shuffle shape as minHashPairs)
    val banded = sigs.select(col("doc_id"),
      posexplode(expr(
        "transform(sequence(0, 3), b -> (b, shiftright(sim, b * 16) & 65535))"))
        .as(Seq("band", "bucket")))
    val candidates = banded
      .groupBy("band", "bucket")
      .agg(slice(sort_array(collect_list(col("doc_id"))), 1, maxBucketSize)
        .as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(bucketPairsUdf(col("ids"))).as("p"))
      .select(col("p._1").as("doc_a"), col("p._2").as("doc_b"))
      .distinct()
    candidates
      .join(sigs.select(col("doc_id").as("doc_a"), col("sim").as("sim_a")),
        Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("sim").as("sim_b")),
        Seq("doc_b"))
      .withColumn("hamming",
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Exact n-gram Jaccard similarity for an explicit pair set — the
    * verify stage usable downstream of either LSH. `pairs` must have
    * (doc_a, doc_b); texts are joined back by id (two broadcast-or-shuffle
    * hash joins on the id key).
    */
  def ngramJaccardVerify(
      pairs: DataFrame,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleWidth: Int = 3
  ): DataFrame = {
    val sh = docs.select(col(idCol).cast("long").as("jid"),
      shinglesUdf(col(textCol), lit(shingleWidth)).as("jsh"))
    pairs
      .join(sh.withColumnRenamed("jid", "doc_a")
        .withColumnRenamed("jsh", "sh_a"), Seq("doc_a"))
      .join(sh.withColumnRenamed("jid", "doc_b")
        .withColumnRenamed("jsh", "sh_b"), Seq("doc_b"))
      .withColumn("jaccard", exactJaccardUdf(col("sh_a"), col("sh_b")))
      .drop("sh_a", "sh_b")
  }

  /** Embedding cosine near-dup over a vector table: BANDED random-
    * hyperplane LSH (OR-amplification across `bands` independent tables of
    * `bitsPerBand` sign bits each) then exact cosine verify on candidate
    * pairs. A single sign-bit table has recall p^bits with
    * p = 1 - angle/π — e.g. ~18% at cosine 0.95 with 16 bits; banding
    * amplifies that to 1-(1-p^bits)^bands ≈ 0.96 at the defaults, while
    * the verify filter keeps precision exact.
    *
    * Same scale shape as [[minHashPairs]]: only (doc_id, band, bucket)
    * crosses the explode and the one bucket shuffle; buckets are capped at
    * `maxBucketSize` before pair generation (bounded work on hot buckets —
    * docs beyond the cap still pair through their other bands); vectors
    * are joined back only for the surviving candidate pairs.
    */
  def embeddingNearDup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95,
      bands: Int = 16,
      bitsPerBand: Int = 16,
      dim: Int = 768,
      maxBucketSize: Int = 256
  ): DataFrame = {
    val planes = hyperplanes(bands * bitsPerBand, dim)
    val nb = bands
    val bpb = bitsPerBand
    // one pass over all planes per vector, packing per-band sign buckets
    val bandBucketsU = udf { v: Array[Float] =>
      val out = new Array[Int](nb)
      var p = 0
      while (p < nb * bpb) {
        var dot = 0.0
        val pl = planes(p)
        val n = math.min(v.length, pl.length)
        var i = 0
        while (i < n) { dot += v(i).toDouble * pl(i); i += 1 }
        if (dot >= 0) out(p / bpb) |= (1 << (p % bpb))
        p += 1
      }
      out
    }
    graft.functions.CosineSimilarity.register(df.sparkSession)
    // (r16 note: a pre-UDF repartition was tried and REVERTED — measured
    // 2× slower solo; the plane-dot pass is not the bottleneck.)
    val vecs = df.select(col(idCol).cast("long").as("doc_id"),
      col(vecCol).as("v"))
    val banded = vecs.select(col("doc_id"),
      posexplode(bandBucketsU(col("v"))).as(Seq("band", "bucket")))
    val candidates = banded
      .groupBy("band", "bucket")
      .agg(slice(sort_array(collect_list(col("doc_id"))), 1, maxBucketSize)
        .as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(bucketPairsUdf(col("ids"))).as("p"))
      .select(col("p._1").as("doc_a"), col("p._2").as("doc_b"))
      .distinct() // collapse up-to-`bands` copies BEFORE the vector join
    candidates
      .join(vecs.select(col("doc_id").as("doc_a"), col("v").as("v_a")),
        Seq("doc_a"))
      .join(vecs.select(col("doc_id").as("doc_b"), col("v").as("v_b")),
        Seq("doc_b"))
      .withColumn("cosine",
        graft.functions.CosineSimilarity.cosine(col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select("doc_a", "doc_b", "cosine")
  }

  /** Semantic dedup with RETENTION (the SemDeDup recipe, Abbas et al.
    * 2023, arXiv:2303.09540: find embedding-space near-duplicate groups,
    * keep one representative per group): [[embeddingNearDup]]'s banded
    * hyperplane-LSH pair generation feeds connected components, and the
    * component's minimum id is the keeper. Returns every input row with
    * its `component` and an `is_canonical` flag — the caller filters to
    * canonical rows for the training set, or keeps the mapping for
    * provenance.
    *
    * Scale shape: inherits the banded/capped pair generation (never
    * all-pairs) and pointer-jumping components (O(log diameter) rounds);
    * the final join back to the corpus is keyed on the id. The same
    * composition as text-space near-dup clustering, in embedding space.
    */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95,
      dim: Int = 768
  ): DataFrame = {
    val pairs = embeddingNearDup(df, idCol, vecCol, threshold, dim = dim)
      .select("doc_a", "doc_b")
    ConnectedComponents.canonicalize(
      df.select(col(idCol)), idCol, pairs, "doc_a", "doc_b")
  }

  /** Duplicate-SPAN removal (the C4 recipe, Raffel et al. 2020,
    * arXiv:1910.10683 §2.2 — "discard all but one of any three-sentence
    * span occurring more than once"): cut each document into consecutive
    * non-overlapping n-word spans, keep only the globally FIRST
    * occurrence of every span text (ordered by (id, position)), and
    * reassemble what survives. Emits per document: `n_spans`,
    * `n_removed`, and `text_deduped` (kept spans rejoined in order; empty
    * string when nothing survives).
    *
    * Scale shape: two keyed shuffles, never all-pairs — (1) exchange on
    * the span text, where the first-occurrence flag is a streaming
    * `row_number` over the span-sorted partition (constant per-key
    * state: the rank never buffers a span's copies, so a boilerplate
    * span repeated a billion times streams through its reducer); (2)
    * exchange back on the document id to reassemble. Per-doc state is
    * bounded by the document length cap.
    *
    * Pure Column expressions end to end (tokenize/slice/window/agg), so
    * a SQL oracle can replay it exactly.
    */
  def spanDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      spanWords: Int = 3
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ws = expr(
      s"filter(split(lower($textCol), '[^a-z0-9_]+'), x -> x <> '')")
    val spans = df
      .select(col(idCol), ws.as("ws"))
      .filter(size(col("ws")) > 0)
      .select(col(idCol), posexplode(expr(
        s"""transform(sequence(0, (size(ws) - 1) div $spanWords),
              g -> concat_ws(' ', slice(ws, g * $spanWords + 1, $spanWords)))"""))
        .as(Seq("pos", "span")))
    val firstOcc = row_number().over(
      Window.partitionBy(col("span")).orderBy(col(idCol), col("pos")))
    spans
      .withColumn("is_first", firstOcc === 1)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("is_first"), 0L).otherwise(1L)).as("n_removed"),
        concat_ws(" ", expr(
          "transform(array_sort(collect_list(" +
            "CASE WHEN is_first THEN struct(pos, span) END)), x -> x.span)"))
          .as("text_deduped"))
  }

  /** Deterministic pseudo-random unit hyperplanes. */
  private[ops] def hyperplanes(n: Int, dim: Int): Array[Array[Float]] = {
    Array.tabulate(n) { p =>
      val v = new Array[Float](dim)
      var h = mix64(0x1234567L + p)
      var i = 0
      while (i < dim) {
        h = mix64(h)
        // map to ~N(0,1)-ish via sum of two uniforms (enough for LSH)
        v(i) = ((h >>> 11).toDouble / (1L << 53).toDouble - 0.5).toFloat
        i += 1
      }
      v
    }
  }

  // ---- incremental MinHash index (probe new batches, never re-LSH the
  // corpus) ----

  /** Banded (band, bucket) rows for a signature table — shared by the
    * one-shot pair search and the persisted index below.
    */
  /** Per-row MinHash signature column — STREAMING-SAFE (pure per-row
    * UDFs, no shuffle, no state), the building block for dedup AT
    * INGEST: a streaming query keys band buckets on raw signature
    * slices (`element_at(sig, …)`) instead of [[bandRows]]'s murmur
    * bucket, so an exact-SQL oracle can replay the whole pipeline
    * bit-for-bit (splitmix64/FNV live in graft.util.Hashing and have
    * DuckDB twins).
    */
  def withMinHashSignature(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleWidth: Int = 3,
      numHashes: Int = 8): DataFrame =
    df.select(col(idCol).cast("long").as("doc_id"),
      minhashUdf(shinglesUdf(col(textCol), lit(shingleWidth)),
        lit(numHashes)).as("sig"))

  private def bandRows(sigs: DataFrame, bands: Int, rows: Int): DataFrame =
    sigs.select(col("doc_id"), posexplode(expr(
      s"transform(sequence(0, ${bands - 1}), b -> " +
        s"hash(b, slice(sig, b * $rows + 1, $rows)))"))
      .as(Seq("band", "bucket")))

  /** Hashing parameters a persisted index was built with, stored as a
    * `_params.json` sidecar: a later session probing or appending with
    * different parameters would compute incompatible band hashes and
    * silently find nothing — mismatches must fail loudly instead.
    */
  private def indexParamsJson(
      shingleWidth: Int, numHashes: Int, bands: Int): String =
    s"""{"shingleWidth":$shingleWidth,"numHashes":$numHashes,"bands":$bands}"""

  private def requireIndexParams(
      conf: org.apache.hadoop.conf.Configuration,
      path: String, shingleWidth: Int, numHashes: Int, bands: Int): Unit =
    graft.util.Sidecar.requireMatch(conf, path, "_params.json",
      indexParamsJson(shingleWidth, numHashes, bands), "minhash index")

  private def writeIndexTables(
      df: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      shingleWidth: Int,
      numHashes: Int,
      bands: Int,
      maxBucketSize: Int,
      mode: String,
      epoch: Long = 0L): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val sigs = df.select(col(idCol).cast("long").as("doc_id"),
      minhashUdf(shinglesUdf(col(textCol), lit(shingleWidth)),
        lit(numHashes)).as("sig"))
    // `epoch` fences rows against tombstones ([[refreshMinhashIndex]]):
    // a tombstone (doc_id, dead_below) kills exactly the rows written
    // BEFORE the staling commit, so a re-inserted/updated doc's fresh
    // rows (stamped at the new source version) survive its own delete
    sigs.select("doc_id", "sig").withColumn("epoch", lit(epoch))
      .write.mode(mode).parquet(s"$path/sigs")
    bandRows(sigs, bands, rows)
      .groupBy("band", "bucket")
      .agg(slice(sort_array(collect_list(col("doc_id"))), 1, maxBucketSize)
        .as("ids"))
      .select(col("band"), col("bucket"),
        explode(col("ids")).as("doc_id"))
      .withColumn("epoch", lit(epoch))
      .write.mode(mode).parquet(s"$path/bands")
    graft.util.Sidecar.write(
      df.sparkSession.sparkContext.hadoopConfiguration, path,
      "_params.json", indexParamsJson(shingleWidth, numHashes, bands))
  }

  /** Tombstone table of a source-bound index: (doc_id, dead_below) —
    * a row of the index is DEAD iff a tombstone matches its doc_id and
    * the row's epoch < dead_below. Append-only, O(total deletes);
    * rebuild the index (writeMinhashIndexFromTable again) to fold them
    * away when they accumulate.
    */
  private def tombstonesOf(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_tombstones")
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (f.exists(p)) Some(spark.read.parquet(p.toString)
      .groupBy("doc_id")
      .agg(max(col("dead_below")).as("dead_below")))
    else None
  }

  /** Drop dead rows from an index-side table read. Legacy layouts
    * (written before the epoch column) can have no tombstones — the
    * filter is the identity there.
    */
  private def liveRows(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      df: DataFrame): DataFrame =
    tombstonesOf(spark, path) match {
      case None => df
      case Some(t) =>
        val withEpoch =
          if (df.columns.contains("epoch")) df
          else df.withColumn("epoch", lit(0L))
        withEpoch.join(t, Seq("doc_id"), "left")
          .filter(col("dead_below").isNull ||
            col("epoch") >= col("dead_below"))
          .drop("dead_below")
    }

  /** Persist a MinHash LSH index for INCREMENTAL dedup: `bands/`
    * (band, bucket, doc_id — bucket membership capped at `maxBucketSize`
    * by id order at write time, so no probe ever meets an unbounded hot
    * bucket), `sigs/` (doc_id, sig — for candidate verification) and a
    * `_params.json` sidecar recording the hashing parameters.
    * At 100 TB this is written once and appended per ingest batch; the
    * alternative — re-running LSH over the full corpus per batch — is
    * O(corpus) per ingest instead of O(batch).
    */
  def writeMinhashIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      shingleWidth: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucketSize: Int = 64): Unit =
    writeIndexTables(df, idCol, textCol, path, shingleWidth, numHashes,
      bands, maxBucketSize, "overwrite")

  /** Append one ingest batch to an existing index (same layout; the
    * write-time bucket cap applies within the batch, so a cross-batch
    * bucket is bounded by cap × number-of-batches). Parameters must
    * match the index's `_params.json` or this throws.
    */
  def appendToMinhashIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      shingleWidth: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucketSize: Int = 64): Unit = {
    requireIndexParams(df.sparkSession.sparkContext.hadoopConfiguration,
      path, shingleWidth, numHashes, bands)
    writeIndexTables(df, idCol, textCol, path, shingleWidth, numHashes,
      bands, maxBucketSize, "append")
  }

  /** Build the MinHash index FROM a TxnTable snapshot and bind it to
    * the committed version it reflects (the [[Similarity.IndexSource]]
    * contract) — rows are epoch-stamped with that version so later
    * incremental refreshes can tombstone exactly the staled rows.
    */
  def writeMinhashIndexFromTable(
      spark: org.apache.spark.sql.SparkSession,
      tableRoot: String,
      idCol: String,
      textCol: String,
      path: String,
      shingleWidth: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucketSize: Int = 64): Unit = {
    val v = graft.table.TxnTable.latestVersion(spark, tableRoot)
      .getOrElse(throw new IllegalArgumentException(
        s"no table at $tableRoot — create() first"))
    // clear any tombstones from a previous binding: a full rebuild
    // folds them away by construction
    val tp = new org.apache.hadoop.fs.Path(s"$path/_tombstones")
    val tf = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (tf.exists(tp)) tf.delete(tp, true)
    writeIndexTables(
      graft.table.TxnTable.snapshotAt(spark, tableRoot, v),
      idCol, textCol, path, shingleWidth, numHashes, bands,
      maxBucketSize, "overwrite", epoch = v)
    Similarity.writeIndexSource(spark, path,
      Similarity.IndexSource(tableRoot, v, idCol, textCol))
  }

  /** Bring a source-bound MinHash index up to its table's current
    * version — the TOMBSTONE alternative to the ANN indexes'
    * partition-scoped rewrite ([[Similarity.refreshLshIndex]]), since
    * `bands/`/`sigs/` are flat layouts: the CDF net diff appends the
    * changed docs' fresh rows (epoch = current version) and one
    * tombstone (doc_id, dead_below = current version) per
    * deleted/updated id — O(changes) appended, NOTHING rewritten, the
    * probes fence rows by epoch. Tombstones accumulate O(total
    * deletes); rebuild via [[writeMinhashIndexFromTable]] to fold them
    * away. Returns true iff a refresh ran.
    */
  def refreshMinhashIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      shingleWidth: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucketSize: Int = 64): Boolean =
    Similarity.indexStaleness(spark, path) match {
      case None => false
      case Some((src, cur)) =>
        requireIndexParams(spark.sparkContext.hadoopConfiguration,
          path, shingleWidth, numHashes, bands)
        val keys = graft.table.TxnTable.cdfKeysOf(spark, src.root)
          .getOrElse(Seq(src.idCol))
        val ch = graft.table.TxnTable.cdf(
          spark, src.root, src.version, cur, keys)
        val adds = ch
          .filter(col("_change_type")
            .isin("insert", "update_postimage"))
          .select(col(src.idCol), col(src.vecCol))
        val dead = ch
          .filter(col("_change_type")
            .isin("delete", "update_preimage"))
          .select(col(src.idCol).cast("long").as("doc_id"))
          .distinct()
          .withColumn("dead_below", lit(cur))
        if (!dead.isEmpty)
          dead.write.mode("append").parquet(s"$path/_tombstones")
        if (!adds.isEmpty)
          writeIndexTables(adds, src.idCol, src.vecCol, path,
            shingleWidth, numHashes, bands, maxBucketSize, "append",
            epoch = cur)
        Similarity.writeIndexSource(spark, path,
          src.copy(version = cur))
        true
    }

  /** [[probeMinhashIndex]] with the staleness contract enforced —
    * refuse loudly or refresh-then-probe when the index lags its
    * source table. Unbound legacy layouts probe as-is.
    */
  def probeMinhashIndexChecked(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      newDf: DataFrame,
      idCol: String,
      textCol: String,
      shingleWidth: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      maxBucketSize: Int = 64,
      refreshIfStale: Boolean = false): DataFrame = {
    Similarity.indexStaleness(spark, path).foreach { case (src, cur) =>
      if (refreshIfStale)
        refreshMinhashIndex(spark, path, shingleWidth, numHashes,
          bands, maxBucketSize)
      else throw new Similarity.StaleIndexException(
        s"minhash index at $path reflects ${src.root} version " +
          s"${src.version} but the table is at $cur — a probe would " +
          "match against deleted/overwritten documents; refresh the " +
          "index (refreshMinhashIndex) or probe with " +
          "refreshIfStale=true")
    }
    probeMinhashIndex(spark, path, newDf, idCol, textCol,
      shingleWidth, numHashes, bands, threshold)
  }

  /** Probe the persisted index with a new batch: returns
    * (old_id, new_id, est_jaccard) pairs with est >= threshold.
    *
    * Scale shape: the batch's banded keys BROADCAST to the index scan
    * (the corpus-side `bands/` table is map-side hash-probed in place,
    * never shuffled), candidate old-ids broadcast-semi-filter `sigs/`
    * the same way, and only O(batch + candidates) rows ever move.
    *
    * The result is materialized eagerly (it is O(candidate pairs) —
    * small) so the batch's signature cache can be released before
    * returning; only the small pair set stays cached.
    */
  def probeMinhashIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      newDf: DataFrame,
      idCol: String,
      textCol: String,
      shingleWidth: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    requireIndexParams(spark.sparkContext.hadoopConfiguration,
      path, shingleWidth, numHashes, bands)
    val rows = numHashes / bands
    val newSigs = newDf.select(col(idCol).cast("long").as("doc_id"),
      minhashUdf(shinglesUdf(col(textCol), lit(shingleWidth)),
        lit(numHashes)).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val newBands = bandRows(newSigs, bands, rows)
      .withColumnRenamed("doc_id", "new_id")
    // tombstone fence (source-bound indexes): rows staled by a source
    // delete/update never produce candidates or verify signatures
    val idx = liveRows(spark, path,
      spark.read.parquet(s"$path/bands"))
    // cands feeds both the sigs semi-filter and the final join; its
    // distinct's exchange is identical in both consumers, so AQE reuses
    // the materialized stage — the index-bands scan runs once
    val cands = idx.join(broadcast(newBands), Seq("band", "bucket"))
      .select(col("doc_id").as("old_id"), col("new_id"))
      .distinct()
    val oldSigsHit = liveRows(spark, path,
        spark.read.parquet(s"$path/sigs"))
      .withColumnRenamed("doc_id", "old_id")
      .join(broadcast(cands.select("old_id").distinct()), "old_id")
      .select(col("old_id"), col("sig").as("sig_old"))
    val out = cands
      .join(oldSigsHit, Seq("old_id"))
      .join(newSigs.select(col("doc_id").as("new_id"),
        col("sig").as("sig_new")), Seq("new_id"))
      .select(col("old_id"), col("new_id"),
        sigJaccardUdf(col("sig_old"), col("sig_new")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .select(col("old_id"), col("new_id"), col("est_jaccard"))
      // session-lifetime by design: the persisted result is match-pairs
      // sized (O(batch candidates), never corpus-sized), must outlive
      // newSigs' unpersist below, and the lazy-DataFrame contract gives
      // no later unpersist point; the CacheManager dedups repeat probes.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count() // materialize while the batch signatures are cached
    newSigs.unpersist()
    out
  }

  private[ops] def hyperplaneBucket(
      v: Array[Float], planes: Array[Array[Float]]): Int = {
    var bucket = 0
    var p = 0
    while (p < planes.length) {
      var dot = 0.0
      val pl = planes(p)
      val n = math.min(v.length, pl.length)
      var i = 0
      while (i < n) { dot += v(i).toDouble * pl(i); i += 1 }
      if (dot >= 0) bucket |= (1 << p)
      p += 1
    }
    bucket
  }
}
