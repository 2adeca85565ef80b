package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.immutable.ArraySeq

/** Keyword search over the corpus: BM25 (Robertson/Spärck Jones) ranking
  * as one declarative plan.
  *
  * Scale shape (100 TB): for a handful of query terms the right plan is a
  * vocabulary-projected scan, not a materialized inverted index — per-term
  * tf columns are computed inline (codegen'd array expressions, corpus
  * touched ONCE, zero data shuffles), document frequencies and corpus
  * stats come from ONE single-row aggregate broadcast back, and the top-k
  * is TakeOrderedAndProject (bounded per-partition heap, never a full
  * sort). Nothing but the k result rows and one stats row ever crosses
  * the wire.
  *
  * Determinism: per-doc scores sum per-term contributions in FIXED
  * textual order (term list order), never via a shuffle-order-dependent
  * sum(). The only transcendental is ln() in idf, which can differ by
  * 1 ulp across math libraries — scores are therefore exposed as
  * `floor(score·10⁴)` basis points alongside exact integer tf columns.
  */
object Search {

  /** BM25 top-k: rank documents for a bag of query `terms`; docs matching
    * no term are excluded. Returns (id, n_terms, tf_total, score_bp).
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25TopK: terms must be non-empty")
    val toks = Dedup.tokens(col(textCol))
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      size(filter(toks, x => x === t)).cast(LongType).as(s"__tf${i}__")
    }
    val base = docs.select((col(idCol) +: size(toks).cast(LongType).as("dl") +: tfCols): _*)

    // ONE single-row aggregate: corpus size, total length, per-term df
    val stats = base.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).as("dl_sum") +: terms.indices.map(i =>
        sum(when(col(s"__tf${i}__") > 0, 1L).otherwise(0L)).as(s"__df${i}__")): _*))

    scoreTopK(base, stats, idCol, terms.size, k, k1, b)
  }

  /** The BM25 scoring tail shared by the scan path ([[bm25TopK]]) and the
    * persisted-index path ([[probeBm25]]): ONE expression tree over
    * `base(id, dl, __tf0__…)` × a broadcast single-row
    * `stats(n_docs, dl_sum, __df0__…)` — both callers therefore emit
    * bit-identical doubles (same ops, same fixed term order), which is
    * what lets the persisted probe reuse the scan query's oracle.
    */
  private def scoreTopK(base: DataFrame, stats: DataFrame, idCol: String,
                        nTermCols: Int, k: Int, k1: Double, b: Double): DataFrame = {
    val nD = col("n_docs").cast(DoubleType)
    val avgdl = col("dl_sum").cast(DoubleType) / nD
    def contrib(i: Int): Column = {
      val tf = col(s"__tf${i}__").cast(DoubleType)
      val dfq = col(s"__df${i}__").cast(DoubleType)
      val idf = log((nD - dfq + 0.5) / (dfq + 0.5) + 1.0)
      idf * (tf * (k1 + 1.0)) / (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast(DoubleType) / avgdl))
    }
    // fixed textual order: c0 + c1 + ... — reproducible bit-for-bit
    val score = (0 until nTermCols).map(contrib).reduce(_ + _)
    val tfTotal = (0 until nTermCols).map(i => col(s"__tf${i}__")).reduce(_ + _)
    val nTerms = (0 until nTermCols).map(i =>
      when(col(s"__tf${i}__") > 0, 1L).otherwise(0L)).reduce(_ + _)

    base.crossJoin(broadcast(stats))
      .filter(tfTotal > 0)
      .select(col(idCol), nTerms.as("n_terms"), tfTotal.as("tf_total"),
        floor(score * 10000).cast(LongType).as("score_bp"))
      .orderBy(col("score_bp").desc, col(idCol).asc)
      .limit(k)
  }

  /** Persist the inverted index behind [[probeBm25]] at `path`: the
    * Lucene-on-Spark serving shape — build the index ONCE over the
    * corpus, then serve every later keyword query from the index without
    * rescanning any text.
    *
    * Layout (`path/`):
    *   - `postings/` — (tok, id, tf), range-partitioned and sorted by
    *     `tok`: each file carries a near-disjoint token range with tight
    *     parquet min/max stats, so a probe's `tok IN (…)` predicate skips
    *     every row group holding none of its terms (the same stats-pruning
    *     discipline as [[AnnIndex.writeGraph]]'s src-sorted edges — query
    *     cost is O(matched postings), not O(index));
    *   - `doclens/` — (id, dl) document lengths, id-range-sorted: the
    *     probe pushes its matched doc ids as a static `id IN (…)`
    *     predicate, so the length-prior read prunes to matched docs;
    *   - `stats/` — one row (n_docs, dl_sum), the corpus-level constants.
    *
    * At 100 TB, `files` scales with the vocabulary so each posting file
    * stays executor-sized; the build is two map-side-combinable
    * aggregates, no global sort anywhere.
    */
  def writeIndex(docs: DataFrame, idCol: String, textCol: String,
                 path: String, files: Int = 8): Unit = {
    import org.apache.spark.sql.SaveMode
    val toks = docs.select(col(idCol), Dedup.tokens(col(textCol)).as("__t__"))
    val doclens = toks.select(col(idCol), size(col("__t__")).cast(LongType).as("dl"))
    toks.select(col(idCol), explode(col("__t__")).as("tok"))
      .groupBy(col("tok"), col(idCol)).agg(count(lit(1)).as("tf"))
      .repartitionByRange(files, col("tok")).sortWithinPartitions("tok", idCol)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/postings")
    // doclens id-range-sorted for the same reason postings are tok-sorted:
    // the probe pushes its matched doc ids into this scan, and disjoint
    // per-file id ranges make that predicate prune — the length-prior read
    // is O(matched docs), not O(corpus)
    doclens.repartitionByRange(files, col(idCol)).sortWithinPartitions(idCol)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/doclens")
    doclens.agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("dl_sum")) // 0, not NULL, for an empty corpus
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/stats")
  }

  /** BM25 top-k served from a PERSISTED index ([[writeIndex]]) — results
    * are bit-identical to [[bm25TopK]] over the same corpus (SearchSpec
    * asserts equality), but the plan reads only the probed postings: the
    * static `tok IN (…)` filter reaches the parquet scan and the
    * tok-sorted range layout prunes unmatched row groups, so nothing
    * text-sized is ever read or shuffled at query time.
    */
  def probeBm25(spark: org.apache.spark.sql.SparkSession, path: String,
                idCol: String, terms: Seq[String], k: Int,
                k1: Double = 1.2, b: Double = 0.75,
                pushLimit: Int = 100000): DataFrame = {
    require(terms.nonEmpty, "probeBm25: terms must be non-empty")
    // an all-empty corpus leaves a schema-less postings dir (parquet
    // writes no files for zero rows): degrade to zero hits, don't crash
    // on schema inference. The degenerate frame derives its id column
    // from the doclens sidecar (docs with zero tokens still have doclens
    // rows), so a non-Long id type survives the empty path exactly as it
    // does the normal one; only a zero-DOC corpus — no stored id type
    // anywhere — falls back to a Long id.
    def hasParquet(dir: String): Boolean =
      graft.sources.Snapshots.listParquet(spark, dir).nonEmpty
    if (!hasParquet(s"$path/postings")) {
      val base =
        if (hasParquet(s"$path/doclens"))
          spark.read.parquet(s"$path/doclens").select(col(idCol))
        else {
          import spark.implicits._
          Seq.empty[Long].toDF(idCol)
        }
      return base
        .select(col(idCol), lit(0L).as("n_terms"), lit(0L).as("tf_total"),
          lit(0L).as("score_bp"))
        .filter(lit(false))
    }
    val postings = spark.read.parquet(s"$path/postings")
      .filter(col("tok").isin(terms: _*))
    // pivot the matched postings to the scan path's per-term tf columns;
    // docs with no matched posting simply never appear (same exclusion
    // as bm25TopK's tf_total > 0 filter)
    val tfAggs = terms.zipWithIndex.map { case (t, i) =>
      coalesce(sum(when(col("tok") === t, col("tf"))), lit(0L))
        .cast(LongType).as(s"__tf${i}__")
    }
    val pivoted = postings.groupBy(col(idCol)).agg(tfAggs.head, tfAggs.tail: _*)
    // push the matched doc ids into the id-range-sorted doclens sidecar
    // (the bkey/sigs discipline of LshIndex.probePairs): only matched
    // docs need a length prior, so collect their ids from the pruned
    // postings scan and prune doclens files/row groups with a static
    // `id IN (…)`; above the cap fall back to the full scan
    val matchedIds = postings.select(col(idCol)).distinct()
      .limit(pushLimit + 1).collect().map(_.get(0))
    val doclensAll = spark.read.parquet(s"$path/doclens")
    val doclens =
      if (matchedIds.length <= pushLimit)
        doclensAll.filter(col(idCol).isin(ArraySeq.unsafeWrapArray(matchedIds): _*))
      else doclensAll
    val base = pivoted.join(doclens, Seq(idCol))
      .select((col(idCol) +: col("dl") +:
        terms.indices.map(i => col(s"__tf${i}__"))): _*)
    // per-term document frequencies: one row per (tok, doc) in postings,
    // so df is a row count — a single tiny aggregate over matched postings
    val dfAggs = terms.indices.map(i =>
      sum(when(col("tok") === terms(i), 1L).otherwise(0L)).as(s"__df${i}__"))
    // the one corpus-stats row is re-opened onto the driver (the
    // AnnIndex.open discipline for tiny sidecars) and re-enters the plan
    // as a LocalTableScan: statically bounded for the PlanAudit BNLJ
    // doctrine with NO extra exchange (a limit(1) scan would add a
    // single-partition shuffle the budget gate flags)
    val stRow = spark.read.parquet(s"$path/stats")
      .select(col("n_docs"), col("dl_sum")).collect()(0)
    import spark.implicits._
    val stats = Seq((stRow.getLong(0), stRow.getLong(1))).toDF("n_docs", "dl_sum")
      .crossJoin(postings.agg(dfAggs.head, dfAggs.tail: _*))
    scoreTopK(base, stats, idCol, terms.size, k, k1, b)
  }

  /** Hybrid retrieval: a BM25 keyword pool and a cosine vector pool fused
    * by reciprocal-rank fusion (Cormack, Clarke, Büttcher SIGIR 2009) —
    * the standard RAG retrieval shape. RRF contribution per list is
    * round(10⁶/(60+rank)) in integer micro-units: one deterministic
    * double division per rank (no accumulation), so fused scores are
    * engine-exact; docs in one pool only keep that pool's contribution.
    *
    * Scale shape: both pools are TakeOrdered top-poolK (bounded heaps, no
    * full sort); the rank windows and the fusion join run over ≤poolK
    * rows each — driver-bounded frames, not corpus shuffles.
    */
  def hybridTopK(docs: DataFrame, emb: DataFrame, idCol: String,
                 textCol: String, vecIdCol: String, vecCol: String,
                 terms: Seq[String], queryVecId: Long, k: Int,
                 poolK: Int = 25): DataFrame = {
    val spark = docs.sparkSession
    graft.functions.VectorExprs.register(spark)
    import org.apache.spark.sql.expressions.Window
    val kw = bm25TopK(docs, idCol, textCol, terms, poolK)
      .select(col(idCol).as("id"), col("score_bp"))
      .withColumn("kw_rank",
        row_number().over(Window.orderBy(col("score_bp").desc, col("id").asc)))
    val qRows = emb.filter(col(vecIdCol) === queryVecId)
      .select(col(vecCol).cast("array<double>")).collect()
    require(qRows.nonEmpty, s"hybridTopK: no row with $vecIdCol == $queryVecId")
    val qRow = qRows(0).getSeq[Double](0).toArray
    val qn = { var s = 0.0; var i = 0; while (i < qRow.length) { s += qRow(i) * qRow(i); i += 1 }; math.sqrt(s) }
    val vec = emb
      .select(col(vecIdCol).cast("long").as("id"), col(vecCol).cast("array<double>").as("v"))
      .filter(col("id") =!= queryVecId) // no self-retrieval in the pool
      .select(col("id"), (graft.functions.VectorExprs.dot(col("v"), lit(qRow)) /
        (graft.functions.VectorExprs.norm(col("v")) * lit(qn))).as("cos"))
      .orderBy(col("cos").desc, col("id").asc).limit(poolK)
      .withColumn("vec_rank",
        row_number().over(Window.orderBy(col("cos").desc, col("id").asc)))
    def rrf(r: Column): Column =
      round(lit(1e6) / (lit(60.0) + r.cast(DoubleType))).cast(LongType)
    kw.select(col("id"), col("kw_rank"))
      .join(vec.select(col("id"), col("vec_rank")), Seq("id"), "full_outer")
      .select(col("id"),
        (coalesce(rrf(col("kw_rank")), lit(0L)) + coalesce(rrf(col("vec_rank")), lit(0L))).as("rrf_micro"),
        col("kw_rank"), col("vec_rank"))
      .orderBy(col("rrf_micro").desc, col("id").asc).limit(k)
  }

  /** Per-document term-frequency vector for a fixed vocabulary — the
    * dense feature extraction for downstream classifiers. Pure expression:
    * zero shuffles, one pass.
    */
  def termVector(docs: DataFrame, idCol: String, textCol: String,
                 vocab: Seq[String]): DataFrame = {
    val toks = Dedup.tokens(col(textCol))
    val cols = vocab.map(t =>
      size(filter(toks, x => x === t)).cast(LongType).as(s"tf_$t"))
    docs.select((col(idCol) +: cols): _*)
  }
}
