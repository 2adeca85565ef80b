package graft.ext

import graft.functions.Hashing
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication for LLM-training-data pipelines, designed for the
  * 100 TB / 1000-executor shape:
  *
  *  - exact: one hash-shuffle on the dedup key (map-side partial agg first);
  *    never a window over the raw text when only representatives are needed.
  *  - MinHash+LSH: signatures are computed PER ROW with zero shuffle
  *    (aggregate/transform higher-order functions, whole-stage codegen'd);
  *    the only shuffles are the band-bucket self-join (keyed by
  *    (band, bandHash) — uniform by construction) and the final pair
  *    distinct. No driver-side collection at any point.
  *  - SimHash: per-row native Expression, then a 4-band Hamming join.
  *  - n-gram Jaccard: exact verification on LSH/blocking candidates only —
  *    never the O(n²) cross join.
  *  - embedding near-dup: random-hyperplane LSH buckets, exact cosine only
  *    within buckets.
  *
  * All hash seeds are compile-time constants → results are deterministic
  * across runs/cluster layouts.
  */
object Dedup {

  // ---------------------------------------------------- bucket-cap guard

  private val obsCounter = new java.util.concurrent.atomic.AtomicInteger(0)
  private val loggerSessions = new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, java.lang.Boolean]()

  /** Log observed metrics named `graft_*` when a query completes — the
    * "no silent caps" channel: drop statistics ride the query itself (a
    * CollectMetrics node over the bucket-count aggregate, zero extra
    * passes) and surface on stderr after the action.
    */
  private[ext] def ensureMetricsLogger(spark: org.apache.spark.sql.SparkSession): Unit =
    loggerSessions.synchronized {
      if (!loggerSessions.containsKey(spark)) {
        loggerSessions.put(spark, java.lang.Boolean.TRUE)
        spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(funcName: String,
                                 qe: org.apache.spark.sql.execution.QueryExecution,
                                 durationNs: Long): Unit =
            qe.observedMetrics.foreach { case (name, row) =>
              if (name.startsWith("graft_")) System.err.println(s"[graft] $name: $row")
            }
          override def onFailure(funcName: String,
                                 qe: org.apache.spark.sql.execution.QueryExecution,
                                 exception: Exception): Unit = ()
        })
      }
    }

  /** Candidate pairs (id_a < id_b) from an LSH bucket table, with bucket
    * occupancy CAPPED. A bucket of size d contributes d²/2 candidate pairs,
    * so one pathological bucket (near-constant embeddings, boilerplate
    * bands, a degenerate nbits/threshold config) degenerates the self-join
    * toward all-pairs. Buckets up to `maxBucket` take the full all-pairs
    * self-join; OVERSIZED buckets contribute a SPANNING STAR instead —
    * every member pairs with the bucket's minimum id (d-1 edges, not
    * d²/2). The star keeps every member reachable, so transitive
    * clustering (connected components) still forms the full duplicate
    * cluster — dropping oversized buckets outright would emit ZERO pairs
    * for exactly the heaviest duplicates (identical docs collide in EVERY
    * band, so every one of their buckets is oversized and the
    * OR-construction has no surviving table to catch them). Star-collapsed
    * entry counts are logged on completion via observed metrics, never
    * silently. `bucketed` must carry the member id as `id`.
    */
  private[ext] def bucketPairs(bucketed: DataFrame, bucketCols: Seq[String],
                          maxBucket: Int, what: String): DataFrame = {
    ensureMetricsLogger(bucketed.sparkSession)
    // occupancy + min-id via one window: ONE shuffle on the bucket key
    // (which the downstream self-join needs anyway) — a groupBy+rejoin
    // would shuffle the bucketed side twice. The shuffle is USER-pinned
    // to cluster width: its rows are (bucket, id) — bytes-tiny — so AQE's
    // byte-based coalescing would otherwise run the window AND the
    // candidate self-join + partial pair-distinct that fan out from it
    // map-side in ONE task (r12 ProbeJobs: a 4 s single-task stage inside
    // dd_ngram). HashPartitioning(bucketCols, n) satisfies the window's
    // required clustering, so no second exchange is added.
    val target = bucketed.sparkSession.sparkContext.defaultParallelism
    val w = Window.partitionBy(bucketCols.map(col): _*)
    val sized = bucketed.repartition(target, bucketCols.map(col): _*)
      .withColumn("__bsize__", count(lit(1)).over(w))
      .withColumn("__bmin__", min(col("id")).over(w))
    val observed = sized.observe(
      s"graft_${what}_bucket_cap_${obsCounter.incrementAndGet()}",
      coalesce(sum(when(col("__bsize__") > maxBucket, 1L).otherwise(0L)), lit(0L))
        .as("star_entries"),
      coalesce(max(col("__bsize__")), lit(0L)).as("max_bucket"))
    val small = observed.filter(col("__bsize__") <= maxBucket)
      .select(bucketCols.map(col) :+ col("id"): _*)
    val smallPairs = small.alias("a").join(small.alias("b"), bucketCols)
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val starPairs = observed
      .filter(col("__bsize__") > maxBucket && col("id") =!= col("__bmin__"))
      .select(col("__bmin__").as("id_a"), col("id").as("id_b"))
    smallPairs.union(starPairs)
  }

  // ------------------------------------------------------------ exact

  /** Exact-dedup summary: one row per distinct key with the representative
    * (minimum) id and the duplicate count. Single hash aggregation.
    */
  def exactSummary(df: DataFrame, key: Column, id: Column): DataFrame =
    df.groupBy(key.as("dup_key"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Exact dedup keeping the first row (by tieBreak) per key. One shuffle
    * on the key columns; at scale prefer hashing wide keys first (pass
    * e.g. xxhash64(text) instead of the raw text as key).
    */
  def exactDedup(df: DataFrame, keys: Seq[Column], tieBreak: Column): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(tieBreak.asc)
    df.withColumn("__rn__", row_number().over(w))
      .filter(col("__rn__") === 1)
      .drop("__rn__")
  }

  /** Canonical bag-of-words fingerprint: md5 of the sorted distinct token
    * set. Catches reordered/recounted copies of the same vocabulary.
    */
  def wordSetFingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))))

  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => t =!= "")

  /** Word n-gram shingles as strings ("w1 w2 w3"). Empty array when the
    * document has fewer than n tokens.
    */
  def wordNgrams(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array().cast(ArrayType(StringType)))
  }

  // ------------------------------------------------------------ MinHash

  /** Estimated Jaccard from two signatures: fraction of agreeing positions. */
  def sigJaccard(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast(DoubleType) / size(a)

  /** Candidate near-duplicate pairs via banded LSH + signature-estimated
    * Jaccard filter. Returns (id_a, id_b, est_jaccard) with id_a < id_b.
    *
    * bands×rows = k; P(candidate) ≈ 1-(1-j^r)^b — defaults (k=64, b=16,
    * r=4) catch j≥0.5 with >99% probability.
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, k: Int = 64, bands: Int = 16,
                   threshold: Double = 0.5, maxBucket: Int = 2000): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    Hashing.register(df.sparkSession)
    val r = k / bands
    // fused tokenize→shingle→minhash expression; signatures are persisted
    // because they feed the band explode AND both sides of the estimation
    // join (without it each consumer recomputes the corpus pass). Docs
    // with fewer than n tokens emit a MaxValue sentinel and are dropped —
    // they have no shingles (two sentinel sigs would band-match).
    // the sentinel filter sits ABOVE the persist: below it, predicate
    // pushdown substitutes the alias and shoves the whole textMinhash
    // expression under Par.fanOut's exchange — the signature pass then
    // runs inside the single-task scan stage, exactly what fanOut exists
    // to prevent (r12 ProbeJobs: a 3.8 s serial Scan>Filter>Exchange
    // stage). InMemoryRelation is a pushdown barrier.
    val sigs = Par.fanOut(df).select(col(idCol).as("id"),
      Hashing.textMinhash(col(textCol), n, k).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .filter(element_at(col("sig"), 1) =!= Long.MaxValue)

    // band join ships only (band, bhash, id) — signatures rejoin AFTER the
    // candidate pairs are distinct, so the k-long arrays never ride the
    // band shuffle (at corpus scale that shuffle is the dominant cost)
    val banded = sigs.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(concat_ws(",", slice(col("sig"), b * r + 1, lit(r))), b))))
      .select(col("id"), col("pos").as("band"), col("col").as("bhash"))

    // fanOutPairs: the per-pair signature compare below (k-long zip_with
    // per candidate) is the CPU stage; its input rows are two ids — AQE's
    // byte-based coalescing would run it near-serial (r12 ProbeJobs:
    // a 4.9 s single-task stage inside dd_ngram)
    val pairs = Par.fanOutPairs(
      bucketPairs(banded, Seq("band", "bhash"), maxBucket, "minhash").distinct(),
      Seq("id_a", "id_b"))

    pairs
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), sigJaccard(col("sig_a"), col("sig_b")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Remove near-duplicates: drop every doc that pairs with a smaller id
    * (min-id representative survives per duplicate cluster edge).
    */
  def minhashDedup(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, k: Int = 64, bands: Int = 16,
                   threshold: Double = 0.5): DataFrame = {
    val losers = minhashPairs(df, idCol, textCol, n, k, bands, threshold)
      .select(col("id_b").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  // ------------------------------------------------------------ SimHash

  /** (id, simhash) with the native SimHash expression. Requires
    * Hashing.register(spark) once per session.
    */
  def simhashes(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    Hashing.register(df.sparkSession)
    Par.fanOut(df).select(col(idCol).as("id"), Hashing.simhash64(col(textCol)).as("simhash"))
  }

  /** Near-duplicate pairs by SimHash: 4×16-bit band blocking, then exact
    * Hamming distance ≤ maxHamming within buckets (pigeonhole: any pair
    * with ≤3 differing bits shares at least one of 4 bands). The band
    * join is bucket-capped like its siblings (boilerplate corpora put
    * thousands of docs in one 16-bit band key) and ships ids only — the
    * 64-bit hashes rejoin after the candidate pairs are distinct.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, maxBucket: Int = 2000): DataFrame = {
    val hs = simhashes(df, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = hs.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(3)),
        b => call_function("shiftright", col("simhash"), b * 16).bitwiseAND(lit(0xffffL)))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
    Par.fanOutPairs(
      bucketPairs(banded, Seq("band", "bkey"), maxBucket, "simhash").distinct(),
      Seq("id_a", "id_b"))
      .join(hs.select(col("id").as("id_a"), col("simhash").as("h_a")), Seq("id_a"))
      .join(hs.select(col("id").as("id_b"), col("simhash").as("h_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), Hashing.hamming64(col("h_a"), col("h_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  // ------------------------------------------------------- n-gram Jaccard

  /** EXACT n-gram Jaccard similarity on LSH-blocked candidate pairs:
    * banded-minhash candidate generation (selective — a raw min-shingle
    * block degenerates on corpora with shared vocabulary, since any doc
    * containing the globally-minimal shingle lands in one giant bucket),
    * then exact set Jaccard on the few candidates, with gram arrays joined
    * back only at the verify step.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.5,
                        k: Int = 32, bands: Int = 16): DataFrame = {
    Hashing.register(df.sparkSession)
    // candidate recall at jaccard j: 1-(1-j^(k/bands))^bands; defaults
    // (r=2, b=16) give ≈0.99 at j=0.5. Candidates are pre-filtered by
    // SIGNATURE-estimated jaccard with a safety margin below the exact
    // threshold — without it, shared-vocabulary corpora yield millions of
    // low-overlap banded pairs and the gram-array join dominates.
    // fanOutPairs before persist: the exact-gram verify downstream is
    // per-pair CPU (array_intersect over full gram sets), so the persisted
    // candidate set must carry verify-grade parallelism, not AQE's
    // byte-sized partition count
    val candidates = Par.fanOutPairs(
      minhashPairs(df, idCol, textCol, n, k, bands,
        threshold = math.max(0.0, threshold - 0.15))
        .select("id_a", "id_b"),
      Seq("id_a", "id_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // gram arrays are built ONLY for docs that appear in a candidate pair
    // (semi-join first): at corpus scale materializing every document's
    // gram set would dwarf the candidate verification itself
    val candIds = candidates
      .select(explode(array(col("id_a"), col("id_b"))).as("__cid__")).distinct()
    val gramSrc = Par.fanOut(df)
    // no size>0 filter: vacuous (a candidate doc has a real minhash
    // signature ⇒ ≥ n tokens ⇒ non-empty gram set), and predicate
    // pushdown would substitute the alias and evaluate wordNgrams below
    // BOTH the semi-join and fanOut's exchange — the gram pass then ran
    // as a single-task scan stage (4.6 s in the r12 probe)
    val grams = gramSrc
      .join(candIds, gramSrc(idCol) === candIds("__cid__"), "left_semi")
      .select(col(idCol).as("id"),
        array_distinct(wordNgrams(col(textCol), n)).as("grams"))
    val inter = size(array_intersect(col("g_a"), col("g_b"))).cast(DoubleType)
    candidates
      .join(grams.select(col("id").as("id_a"), col("grams").as("g_a")), Seq("id_a"))
      .join(grams.select(col("id").as("id_b"), col("grams").as("g_b")), Seq("id_b"))
      .withColumn("jaccard", inter / (size(col("g_a")) + size(col("g_b")) - inter))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  // ------------------------------------------------ winnowing (rolling hash)

  /** Near-copy pairs by shared winnowing fingerprints (rolling-hash
    * k-grams, min-per-window selection — see Hashing.winnow): two docs
    * sharing any substring of length ≥ w+k-1 bytes share fingerprints;
    * pairs sharing ≥ minShared are reported with the shared count.
    * Same id-only-shuffle shape as the other LSH joins.
    */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 8, w: Int = 16, minShared: Int = 5,
                  maxDocFreq: Int = 20): DataFrame = {
    val fps = Par.fanOut(df).select(col(idCol).as("id"),
      explode(array_distinct(Hashing.winnow(col(textCol), k, w))).as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // drop ubiquitous fingerprints (boilerplate/common phrases) BEFORE the
    // self-join — a fingerprint in d docs contributes d²/2 pairs, so hot
    // fps dominate quadratically; capping document frequency is the
    // standard winnowing practice and bounds the join
    val rare = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDocFreq)
      .select("fp")
    val kept = fps.join(rare, Seq("fp"))
    kept.alias("a").join(kept.alias("b"), Seq("fp"))
      .filter(col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  // ------------------------------------------- embedding cosine near-dup

  /** Near-duplicate pairs by embedding cosine ≥ threshold: standard LSH
    * OR-construction — L independent tables of `nbits` random-hyperplane
    * sign bits each; a pair is a candidate if it collides in ANY table;
    * exact cosine verification only on candidates. Recall for a pair at
    * angle θ: 1-(1-p^nbits)^L with p = 1-θ/π. Hyperplanes are hash-derived
    * (deterministic), so results are reproducible across runs/layouts.
    */
  def embeddingDupPairs(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double = 0.4, nbits: Int = 4,
                        tables: Int = 16, maxBucket: Int = 1000): DataFrame = {
    graft.functions.VectorExprs.register(df.sparkSession)
    // bucket join ships (bucket, id) ONLY; vectors and norms rejoin after
    // the candidate pairs are distinct — embeddings never ride the LSH
    // shuffle (at corpus scale they dominate it otherwise)
    val src = Par.fanOut(df)
    val vecs = src.select(col(idCol).as("id"), col(vecCol).as("v"),
      Vectors.norm(col(vecCol)).as("nrm"))
    val bucketed = src.select(col(idCol).as("id"),
      explode(Vectors.hyperplaneBuckets(col(vecCol), nbits, tables)).as("bucket"))
    val pairs = Par.fanOutPairs(
      bucketPairs(bucketed, Seq("bucket"), maxBucket, "embed").distinct(),
      Seq("id_a", "id_b"))
    pairs
      .join(vecs.select(col("id").as("id_a"), col("v").as("v_a"), col("nrm").as("n_a")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("v_b"), col("nrm").as("n_b")), Seq("id_b"))
      .withColumn("cosine", Vectors.dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }
}
