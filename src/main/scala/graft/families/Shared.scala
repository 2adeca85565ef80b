package graft
package families

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Helpers two or more query families use. Families import them from here,
  * not from SparkEntry, so an object-initialisation cycle cannot hand a
  * query a null `val`.
  */
object Shared {

  private[graft] def T(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Scratch root for the persisted-ANN-index queries: deterministic per
    * (sf dir, index name) so every invocation overwrites its own prior
    * run, outside the repo so round tooling never mistakes it for source.
    */
  private[graft] def annIndexPath(dir: String, name: String): String =
    s"${sys.props("java.io.tmpdir")}/graft-ann/${new java.io.File(dir).getName}/$name"

  /** Oracle-validity guard for the LSH-ledger queries: lshLedgerOracleSql
    * models NEITHER probePairs' `maxPostings` boilerplate-bucket cap nor
    * its `pushLimit` fallback. The fallback is result-identical
    * (spec-proven), but the cap DROPS pairs — provably inert only while
    * the ledger cohort holds fewer docs than the cap, since no band
    * bucket can exceed the cohort size. Fail loudly if a grown fixture
    * ever crosses that line, instead of silently diverging from the
    * oracle. One count over the (tiny, filtered) cohort per query run.
    */
  private[graft] def requireLedgerOracleValid(ledgerCohort: org.apache.spark.sql.DataFrame,
                                       maxPostings: Int = 2000): Unit = {
    val n = ledgerCohort.count()
    require(n < maxPostings,
      s"LSH-ledger oracle invalid: cohort has $n docs >= maxPostings=$maxPostings — " +
        "probePairs' bucket cap could drop pairs the oracle keeps; raise the cap " +
        "in the query or model it in lshLedgerOracleSql")
  }

  /** Normalize the events `ts` column to a session-UTC TIMESTAMP whatever
    * the fixture's physical type (the driver has shipped both): a
    * TIMESTAMP(NANOS) parquet is read as a nanosecond long (legacy conf)
    * and narrowed ns→µs by integer division — the same truncation DuckDB
    * applies; TIMESTAMP_NTZ / TIMESTAMP pass through a cast that is
    * value-preserving because the session zone is pinned to UTC.
    */
  private[graft] def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }

  private[graft] def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(T(s, dir, "events"))
  }

  /** One HMM forward step over the BIGINT-encoded state pair
    * (a0·10⁷ + a1, both micro, renormalized to a0+a1 = 10⁶ each step):
    * transition T = [[0.9, 0.1], [0.2, 0.8]], emission P(obs=1|s0)=0.3 /
    * P(obs=1|s1)=0.8, all in micro ints. `idiv` is `div` (Spark) or `//`
    * (DuckDB); every operand is nonnegative so the two divisions agree.
    * Packing both probabilities into one BIGINT keeps the fold free of
    * struct lambdas, so Spark's `aggregate` and DuckDB's `list_reduce`
    * replay it bit-for-bit. Max intermediate ≈ 9·10¹¹ — no wrap.
    */
  /** The same forward step as [[hmmStepSql]] in plain Scala — the
    * streaming fold (streaming.Streams.hmmForward) carries this across
    * micro-batches; all three spellings (Spark SQL, DuckDB, Scala) are
    * the one recurrence.
    */
  private[graft] def hmmStepInt(acc: Long, o: Long): Long = {
    val a0 = acc / 10000000L
    val a1 = acc % 10000000L
    val u0 = (a0 * 900000L + a1 * 200000L) / 1000000L *
      (if (o == 1L) 300000L else 700000L) / 1000000L
    val u1 = (a0 * 100000L + a1 * 800000L) / 1000000L *
      (if (o == 1L) 800000L else 200000L) / 1000000L
    val na0 = u0 * 1000000L / math.max(u0 + u1, 1L)
    na0 * 10000000L + (1000000L - na0)
  }

  /** Initial encoded HMM state: a0 = a1 = 500000 micro. */
  private[graft] val hmmInit: Long = 5000000500000L

  private[graft] def hmmStepSql(acc: String, o: String, idiv: String): String = {
    val a0 = s"($acc $idiv 10000000)"
    val a1 = s"($acc % 10000000)"
    val u0 = s"((($a0 * 900000 + $a1 * 200000) $idiv 1000000) * " +
      s"(CASE WHEN $o = 1 THEN 300000 ELSE 700000 END)) $idiv 1000000"
    val u1 = s"((($a0 * 100000 + $a1 * 800000) $idiv 1000000) * " +
      s"(CASE WHEN $o = 1 THEN 800000 ELSE 200000 END)) $idiv 1000000"
    val na0 = s"((($u0) * 1000000) $idiv greatest(($u0) + ($u1), 1))"
    s"($na0 * 10000000 + (1000000 - $na0))"
  }

  /** Content-defined chunking (8-char base-31 rolling hash, boundary at
    * H % 64 == 0) as pure array expressions — shared by ta_cdc_chunk
    * and dd_chunk_overlap; the oracle replays the identical literals. */
  private[graft] def cdcChunks(docs: DataFrame): DataFrame =
    // fanOut: the rolling-hash boundary scan is ~len(text) integer ops per
    // row — CPU-bound per-row work that must not inherit a sub-split
    // file's single scan partition (no-op at natural parallelism)
    ext.Par.fanOut(docs)
      .withColumn("codes", expr(
        "transform(sequence(1, length(text)), i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))"))
      .withColumn("bpos", expr(
        """filter(sequence(8, greatest(8, size(codes))), i -> i <= size(codes) AND
           (element_at(codes, i) + element_at(codes, i-1) * 31
            + element_at(codes, i-2) * 961 + element_at(codes, i-3) * 29791
            + element_at(codes, i-4) * 923521 + element_at(codes, i-5) * 28629151
            + element_at(codes, i-6) * 887503681
            + element_at(codes, i-7) * 27512614111) % 64 = 0)"""))
      .withColumn("bounds", expr(
        """array_sort(array_distinct(concat(array(CAST(0 AS BIGINT)),
           transform(bpos, x -> CAST(x AS BIGINT)),
           array(CAST(size(codes) AS BIGINT)))))"""))
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(bounds) >= 2 THEN
             transform(sequence(1, size(bounds) - 1),
               j -> substring(text, CAST(element_at(bounds, j) AS INT) + 1,
                    CAST(element_at(bounds, j + 1) - element_at(bounds, j) AS INT)))
           ELSE array() END""")).as("chunk"))

  /** Exact floor(0.9^dy · 1e6) for dy 0..10 — shared with the ev_ltv
    * oracle as the same literal table (no libm pow in either engine). */
  private[graft] val ltvDecayMicro: Seq[(Long, Long)] = Seq(
    0L -> 1000000L, 1L -> 900000L, 2L -> 810000L, 3L -> 729000L,
    4L -> 656100L, 5L -> 590490L, 6L -> 531441L, 7L -> 478296L,
    8L -> 430467L, 9L -> 387420L, 10L -> 348678L)

  /** HLL precision (2^10 registers ≈ 3.2 % σ) shared by query + oracle. */
  private[graft] val hllP = 10

  /** g_kcore's parts-per-order width cap, shared by query + oracle: the
    * co-purchase pair build is quadratic in order width, so pathological
    * giant orders are excluded by definition (TPC-H max width is 7 —
    * nothing drops at test fixtures; at 100 TB this bounds the fan-out
    * at 64²/2 pairs per order the way the LSH bucket caps bound stars).
    */
  private[graft] val kcoreOrderCap = 64

  /** Distinct lowercase-token n-gram set per document — the shared gram
    * frame of ta_novelty / dd_eval (space-joined word n-grams; docs with
    * fewer than n tokens emit nothing — the size filter must precede the
    * explode because sequence(0, m) DESCENDS for m < 0). Checkpointed:
    * every consumer reads it at least twice.
    */
  private[graft] def wordGramSet(docs: DataFrame, n: Int): DataFrame = {
    val gramExpr = (0 until n).map(k => s"t[i + $k]").mkString("concat(", ", ' ', ", ")")
    docs.select(col("doc_id"),
        filter(split(lower(col("text")), "\\s+"), x => x =!= "").as("t"))
      .filter(size(col("t")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(t) - $n), i -> $gramExpr)")).as("gram"))
      .distinct()
      .localCheckpoint(true)
  }

  /** KMV estimate from a bottom-k array column, as a SQL expression shared
    * verbatim in spirit with the oracle: θ = 2⁶⁴ when the sketch is not
    * full (estimate degrades to the exact count), else the unsigned value
    * of the largest retained hash; retained = strictly below θ. All
    * DECIMAL(38,0) integer arithmetic, truncating division.
    */
  private[graft] def kmvEstSql(arr: String, k: Int): String = {
    val two64 = "CAST('18446744073709551616' AS DECIMAL(38,0))"
    val last = s"element_at($arr, -1)"
    val lastU = s"(CAST($last AS DECIMAL(38,0)) + CASE WHEN $last < 0 THEN $two64 ELSE CAST(0 AS DECIMAL(38,0)) END)"
    s"""CAST((CAST(CASE WHEN size($arr) < $k THEN size($arr) ELSE size($arr) - 1 END AS DECIMAL(38,0))
       | * $two64) div (CASE WHEN size($arr) < $k THEN $two64 ELSE $lastU END) AS BIGINT)""".stripMargin
  }

  /** α_m·m² computed ONCE in driver doubles and embedded as a literal in
    * both engines (Double.toString round-trips, so DuckDB parses the
    * identical bits) — keeps the per-group work to one division.
    */
  private[graft] def hllAlphaM2(m: Int): Double =
    0.7213 / (1.0 + 1.079 / m) * m * m

  private[graft] val cmsDepth = 4
  private[graft] val cmsLogW = 10

  // --- MinHash / SimHash DuckDB replays -------------------------------
  // The LSH *signatures* are deterministic integer hashing (FNV-1a and
  // multiply-add permutations wrap mod 2^64), so the banded pair sets are
  // fully oracle-able: HUGEINT arithmetic replays the wrapping exactly
  // (split multiplication keeps a·h below 2^127), and bucket keys compare
  // the raw signature slices (Spark's xxhash64 band key is injective up
  // to astronomically-unlikely collisions, which would only ADD Spark
  // candidates). Bucket caps never trigger at sf0.01 (500 docs < 2000).

  private[graft] val U64 = "18446744073709551616::HUGEINT"

  /** FNV-1a 64 of a string column `g` (ASCII fixture) via list_reduce. */
  private[graft] val fnvSql: String =
    "list_reduce(list_prepend(14695981039346656037::HUGEINT, " +
      "list_transform(range(strlen(g)), i -> CAST(ascii(g[CAST(i AS INTEGER)+1:CAST(i AS INTEGER)+1]) AS HUGEINT))), " +
      s"(acc, b) -> (xor(acc, b) * 1099511628211::HUGEINT) % $U64)"

  /** CTEs replaying Hashing.textMinhash(text, n, k) into
    * `sigs(doc_id, sig LIST<BIGINT>)` — tokenize, word n-grams, FNV per
    * gram, k signed-min multiply-add permutations (vectorized as k min
    * aggregates over exploded gram hashes).
    */
  private[graft] def minhashSigCtes(n: Int, k: Int): String = {
    val (as0, bs0) = graft.functions.Hashing.permConsts(k)
    val mask = (BigInt(1) << 64) - 1
    def perm(j: Int): String = {
      val a = BigInt(as0(j)) & mask
      val b = BigInt(bs0(j)) & mask
      val v = s"(($a::HUGEINT * hlo) % $U64 + (($a::HUGEINT * hhi) % 4294967296::HUGEINT) * 4294967296::HUGEINT + $b::HUGEINT) % $U64"
      s"min(CAST(CASE WHEN $v >= 9223372036854775808::HUGEINT THEN $v - $U64 ELSE $v END AS BIGINT)) AS s$j"
    }
    val sigCols = (0 until k).map(perm).mkString(", ")
    val sigArr = (0 until k).map(j => s"s$j").mkString("[", ", ", "]")
    s"""toks AS MATERIALIZED (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS t FROM documents),
       |grams AS MATERIALIZED (SELECT doc_id, unnest(list_transform(range(len(t) - ${n - 1}), i -> array_to_string(t[(CAST(i AS INTEGER)+1):(CAST(i AS INTEGER)+$n)], ' '))) AS g FROM toks WHERE len(t) >= $n),
       |gh AS MATERIALIZED (SELECT doc_id, h % 4294967296::HUGEINT AS hlo, h // 4294967296::HUGEINT AS hhi FROM (SELECT doc_id, $fnvSql AS h FROM grams)),
       |sigw AS MATERIALIZED (SELECT doc_id, $sigCols FROM gh GROUP BY doc_id),
       |sigs AS MATERIALIZED (SELECT doc_id, $sigArr AS sig FROM sigw)""".stripMargin
  }

  /** Banded candidate pairs + signature-jaccard filter over `sigs` —
    * mirrors Dedup.minhashPairs' band join and estimate filter.
    */
  private[graft] def minhashPairSql(k: Int, bands: Int, threshold: Double): String = {
    val r = k / bands
    s"""banded AS MATERIALIZED (SELECT doc_id, b, array_to_string(sig[(CAST(b AS INTEGER)*$r+1):(CAST(b AS INTEGER)*$r+$r)], ',') AS bkey FROM sigs, unnest(range($bands)) t(b)),
       |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM banded a JOIN banded b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |est AS MATERIALIZED (SELECT id_a, id_b, CAST(len(list_filter(range($k), i -> sa.sig[CAST(i AS INTEGER)+1] = sb.sig[CAST(i AS INTEGER)+1])) AS DOUBLE) / $k AS est_jaccard FROM cand JOIN sigs sa ON cand.id_a = sa.doc_id JOIN sigs sb ON cand.id_b = sb.doc_id),
       |mh_pairs AS MATERIALIZED (SELECT id_a, id_b, est_jaccard FROM est WHERE est_jaccard >= $threshold)""".stripMargin
  }

  private[graft] lazy val minhashOracleSql: String =
    s"WITH ${minhashSigCtes(3, 64)}, ${minhashPairSql(64, 16, 0.5)} SELECT id_a, id_b, est_jaccard FROM mh_pairs"

  /** dd_lsh_persisted / dd_lsh_incremental: the same sig + banding replay
    * as dd_minhash, but candidates CROSS the ledger cohort (doc_id < 250)
    * with the incoming batch (doc_id ≥ 250) instead of self-joining — the
    * persisted-ledger probe finds exactly the cross-cohort banded pairs.
    * Shared by both queries: append-under-frozen-params converges to the
    * one-shot build, so the incremental run must hash-match this too.
    */
  private[graft] def lshLedgerOracleSqlWith(ledgerWhere: String): String = {
    val r = 64 / 16
    s"""WITH ${minhashSigCtes(3, 64)},
       |banded AS MATERIALIZED (SELECT doc_id, b, array_to_string(sig[(CAST(b AS INTEGER)*$r+1):(CAST(b AS INTEGER)*$r+$r)], ',') AS bkey FROM sigs, unnest(range(16)) t(b)),
       |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS id_old, b.doc_id AS id_new FROM banded a JOIN banded b ON a.b = b.b AND a.bkey = b.bkey WHERE a.doc_id < 250 AND b.doc_id >= 250$ledgerWhere),
       |est AS (SELECT id_old, id_new, CAST(len(list_filter(range(64), i -> sa.sig[CAST(i AS INTEGER)+1] = sb.sig[CAST(i AS INTEGER)+1])) AS DOUBLE) / 64 AS est_jaccard FROM cand JOIN sigs sa ON cand.id_old = sa.doc_id JOIN sigs sb ON cand.id_new = sb.doc_id)
       |SELECT id_old, id_new, est_jaccard FROM est WHERE est_jaccard >= 0.5""".stripMargin
  }

  private[graft] lazy val lshLedgerOracleSql: String = lshLedgerOracleSqlWith("")

  private[graft] lazy val qualityScoreOracleSql: String =
    """WITH base AS (SELECT doc_id, lang, text, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks FROM documents), comp AS (SELECT doc_id, lang, CAST(len(toks) AS DOUBLE) AS ntok, CASE WHEN length(text) > 0 THEN (length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g'))) / CAST(length(text) AS DOUBLE) ELSE 0 END AS pr, CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, t -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be','this'], t))) AS DOUBLE) / len(toks) ELSE 0 END AS sr, CASE WHEN len(toks) > 0 THEN CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) ELSE 0 END AS mtl FROM base) SELECT doc_id, lang, CAST(floor((CAST(CASE WHEN ntok >= 50 AND ntok <= 10000 THEN 1.0 WHEN ntok >= 10 THEN 0.5 ELSE 0.1 END AS DOUBLE) * 0.3 + (1.0 - least(pr * 4, 1.0)) * 0.2 + least(sr * 3, 1.0) * 0.3 + CAST(CASE WHEN mtl >= 3 AND mtl <= 10 THEN 1.0 ELSE 0.3 END AS DOUBLE) * 0.2) * 10000) AS BIGINT) AS quality_bp FROM comp"""

  /** Shared WITH-body: minhash pair graph → connected components
    * (`comp(id, root)`), the transitive-dedup backbone.
    */
  private[graft] lazy val minhashCompCtes: String =
    s"""${minhashSigCtes(3, 64)}, ${minhashPairSql(64, 16, 0.5)},
       |edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM mh_pairs UNION SELECT id_b, id_a FROM mh_pairs),
       |lab AS (SELECT doc_id AS id, doc_id AS lbl FROM documents UNION SELECT e.dst AS id, lab.lbl FROM lab JOIN edges e ON lab.id = e.src WHERE lab.lbl < e.dst),
       |comp AS (SELECT id, min(lbl) AS root FROM lab GROUP BY 1)""".stripMargin

  /** VALUES rows of hash-derived hyperplane components for the given LSH
    * shape — shortest-roundtrip double literals, identical bits in both
    * engines (each component is an exact k/1000.0).
    */
  private[graft] def planeRowsSql(nbits: Int, tables: Int, dim: Int): String =
    (0 until tables * nbits).map { pid =>
      val comps = (0 until dim)
        .map(d => graft.functions.VectorExprs.component(pid / nbits, pid % nbits, d))
        .mkString("[", ", ", "]")
      s"($pid, $comps)"
    }.mkString(", ")

  // --- k-means family DuckDB replays ---------------------------------
  // IvfIndex.train is now EXACTLY replayable: md5-ordered init, argmin by
  // the NearestCellsExpr score (‖c‖² − 2⟨v,c⟩, fixed left-to-right double
  // accumulation — DuckDB's list_dot_product/list_reduce match bit-for-bit,
  // proven by sim_topk/dd_embed), and fixed-point Lloyd updates whose
  // BIGINT sums are accumulation-order-free on both engines.

  /** Score of vector `v` against centroid `c` exactly as NearestCellsExpr
    * computes it (c² left-fold minus twice the left-fold dot).
    */
  private[graft] def cellScore(v: String, c: String): String =
    s"list_reduce(list_transform($c, x -> x*x), (a, b) -> a + b) - 2 * list_dot_product($v, $c)"

  /** CTEs replaying IvfIndex.train(embeddings, k, iters) into
    * `cen$iters(cell, v)`; also defines `e(vec_id, v)` double-cast vectors.
    */
  /** `trainWhere` (e.g. "e.vec_id % 2 = 0") restricts the TRAINING set —
    * init sample and Lloyd assignments — without touching `e` itself,
    * replaying IvfIndex.train on a base cohort while downstream CTEs
    * still assign/probe the full corpus (the persisted-index oracles).
    * Empty (the default) emits exactly the historical full-corpus text.
    */
  private[graft] def kmeansCtes(k: Int, iters: Int, dim: Int, trainWhere: String = ""): String = {
    val grid = graft.ext.IvfIndex.Grid
    val initW = if (trainWhere.isEmpty) "" else s" WHERE $trainWhere"
    val init =
      s"""e AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |cen0 AS MATERIALIZED (SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS INTEGER) AS cell, v FROM e$initW QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) <= $k)""".stripMargin
    val steps = (0 until iters).map { t =>
      s"""asg$t AS MATERIALIZED (SELECT vec_id, v, cell FROM (SELECT e.vec_id, e.v, c.cell, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cellScore("e.v", "c.v")}, c.cell) AS rn FROM e CROSS JOIN cen$t c$initW) WHERE rn = 1),
         |upd$t AS MATERIALIZED (SELECT cell, j, CAST(sum(CAST(floor(v[CAST(j AS INTEGER)+1] * $grid) AS BIGINT)) AS BIGINT) AS sj, count(*) AS n FROM asg$t, unnest(range($dim)) t(j) GROUP BY 1, 2),
         |cen${t + 1} AS MATERIALIZED (SELECT p.cell, COALESCE(u.nv, p.v) AS v FROM cen$t p LEFT JOIN (SELECT cell, list(CAST(sj AS DOUBLE) / CAST(n * $grid AS DOUBLE) ORDER BY j) AS nv FROM upd$t GROUP BY cell) u ON p.cell = u.cell)""".stripMargin
    }
    (init +: steps).mkString(",\n")
  }

  /** sim_ivf_incremental: ivfTopKOracleSql with k-means TRAINED on the
    * even-vec_id base cohort only (the persisted index's frozen
    * quantizer); assignment and probing still cover the full corpus —
    * exactly what base-write + frozen-centroid append produces on disk.
    */
  private[graft] lazy val ivfIncrementalOracleSql: String = {
    val cos = "list_dot_product(i.v, p.qv) / (sqrt(list_dot_product(i.v, i.v)) * sqrt(list_dot_product(p.qv, p.qv)))"
    s"""WITH ${kmeansCtes(8, 2, 64, trainWhere = "e.vec_id % 2 = 0")},
       |idx AS MATERIALIZED (SELECT vec_id, v, cell FROM (SELECT e.vec_id, e.v, c.cell, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cellScore("e.v", "c.v")}, c.cell) AS rn FROM e CROSS JOIN cen2 c) WHERE rn = 1),
       |prob AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv, cell FROM (SELECT e.vec_id, e.v, c.cell, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cellScore("e.v", "c.v")}, c.cell) AS rn FROM e CROSS JOIN cen2 c WHERE e.vec_id < 8) WHERE rn <= 3),
       |scored AS (SELECT p.query_id, i.vec_id AS neighbor_id, $cos AS score FROM prob p JOIN idx i ON p.cell = i.cell AND i.vec_id <> p.query_id)
       |SELECT query_id, CAST(rn AS INTEGER) AS rank, neighbor_id, score
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn FROM scored)
       |WHERE rn <= 10""".stripMargin
  }

  /** The ev_hmm replay — list_reduce over the (ts, event_id)-ordered
    * observations with the identical BIGINT-encoded step. stream_hmm
    * shares it verbatim: the last state-store snapshot per user must
    * equal the batch fold.
    */
  private[graft] lazy val hmmOracleSql: String =
    s"""WITH seq AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events, list(CASE WHEN event_type IN ('click', 'purchase') THEN 1 ELSE 0 END ORDER BY ts, event_id) AS obs FROM events GROUP BY 1), f AS (SELECT user_id, n_events, list_reduce(list_prepend(CAST(5000000500000 AS BIGINT), obs), (acc, o) -> ${hmmStepSql("acc", "o", "//")}) AS enc FROM seq) SELECT user_id, n_events, CAST(enc % 10000000 AS BIGINT) AS p_engaged_micro, (enc % 10000000) >= 500000 AS is_engaged FROM f"""

  /** ev_snips / stream_snips: the per-(cohort, action) SNIPS cells —
    * shared because the streamed cell merge is order-free, so both
    * spellings hash-match the same SQL.
    */
  private[graft] lazy val snipsOracleSql: String =
    """WITH cells AS (SELECT user_id % 10 AS cohort, event_type,
           count(*)::HUGEINT AS n_ca,
           sum(CASE WHEN value > 50 THEN 1 ELSE 0 END)::HUGEINT AS r_ca,
           (CASE WHEN event_type = 'purchase' THEN 600000 ELSE 100000 END)::HUGEINT AS pt
         FROM events GROUP BY 1, 2),
       nc AS (SELECT cohort, sum(n_ca) AS n_c FROM cells GROUP BY 1),
       t AS (SELECT c.cohort, c.n_ca, (c.pt * n.n_c * c.r_ca) // c.n_ca AS term,
           c.pt * n.n_c AS wsum
         FROM cells c JOIN nc n USING (cohort))
       SELECT cohort, CAST(count(*) AS BIGINT) AS n_cells,
         CAST(sum(n_ca) AS BIGINT) AS n_events,
         CAST(sum(term) AS BIGINT) AS num_micro,
         CAST(sum(wsum) AS BIGINT) AS den_micro,
         CAST((sum(term) * 1000000) // sum(wsum) AS BIGINT) AS snips_micro
       FROM t GROUP BY 1"""

  // --- sketch replays -------------------------------------------------
  // HLL registers and CMS counters are deterministic integer state (FNV
  // maxima / bucket sums), so DuckDB rebuilds them exactly; the only
  // doubles are the fixed-order HLL dyadic fold and one division, both
  // bit-identical across engines (same IEEE ops, same order).

  /** CTE chain replaying HLL registers for a `keys(flag, g)` relation:
    * fnv1a64∘fmix64, idx = h >>> (64-p), rho = first-1-bit position of
    * the remaining bits, per-(flag, idx) max → `vec(flag, regs)`.
    */
  private[graft] def hllVecCtes(keysSql: String): String = {
    val p = hllP
    val m = 1 << p
    val pow64mp = BigInt(1) << (64 - p) // 2^(64-p) for idx/payload split
    // fmix64 replay: >>>33 is unsigned // 2^33; the two 64x64 multiplies
    // split as lo/hi 32-bit halves so products stay below 2^96 (HUGEINT)
    def mul64(c: BigInt): String =
      s"($c::HUGEINT * (u % 4294967296::HUGEINT) + (($c::HUGEINT * (u // 4294967296::HUGEINT)) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % $U64"
    val c1 = BigInt("ff51afd7ed558ccd", 16)
    val c2 = BigInt("c4ceb9fe1a85ec53", 16)
    s"""keys AS ($keysSql),
       |dk AS MATERIALIZED (SELECT DISTINCT flag, g FROM keys),
       |hh AS (SELECT flag, $fnvSql AS u FROM dk),
       |f1 AS (SELECT flag, xor(u, u // 8589934592::HUGEINT) AS u FROM hh),
       |f2 AS (SELECT flag, ${mul64(c1)} AS u FROM f1),
       |f3 AS (SELECT flag, xor(u, u // 8589934592::HUGEINT) AS u FROM f2),
       |f4 AS (SELECT flag, ${mul64(c2)} AS u FROM f3),
       |fm AS (SELECT flag, xor(u, u // 8589934592::HUGEINT) AS h FROM f4),
       |ir AS (SELECT flag, CAST(h // $pow64mp::HUGEINT AS BIGINT) AS idx, CAST(h % $pow64mp::HUGEINT AS BIGINT) AS payload FROM fm),
       |rr AS (SELECT flag, idx, coalesce(list_min(list_filter(list_transform(range(1, ${64 - p + 1}), r -> CASE WHEN (payload // CAST(power(2, ${64 - p} - CAST(r AS INTEGER)) AS BIGINT)) % 2 = 1 THEN CAST(r AS INTEGER) ELSE NULL END), x -> x IS NOT NULL)), ${64 - p + 1}) AS rho FROM ir),
       |mx AS (SELECT flag, idx, max(rho) AS mr FROM rr GROUP BY 1, 2),
       |grid AS (SELECT flag, CAST(i AS BIGINT) AS idx FROM (SELECT DISTINCT flag FROM keys) f, unnest(range($m)) t(i)),
       |reg AS (SELECT grid.flag, grid.idx, coalesce(mx.mr, 0) AS r FROM grid LEFT JOIN mx ON grid.flag = mx.flag AND grid.idx = mx.idx),
       |vec AS (SELECT flag, list(r ORDER BY idx) AS regs FROM reg GROUP BY flag)""".stripMargin
  }

  /** Raw-estimator SQL over a register list: the same fixed-order dyadic
    * fold as the Spark `aggregate` HOF, divided into the α·m² literal.
    */
  private[graft] def hllEstSql(regs: String): String =
    s"CAST('${hllAlphaM2(1 << hllP)}' AS DOUBLE) / list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform($regs, x -> power(2.0, -x))), (acc, x) -> acc + x)"

  private[graft] lazy val hllOracleSql: String =
    s"""WITH ${hllVecCtes("SELECT l_returnflag AS flag, CAST(l_orderkey AS VARCHAR) AS g FROM lineitem")},
       |ex AS (SELECT l_returnflag AS flag, count(DISTINCT l_orderkey) AS exact_nd FROM lineitem GROUP BY 1)
       |SELECT vec.flag AS l_returnflag,
       |  CAST(len(list_filter(regs, x -> x = 0)) AS BIGINT) AS zeros,
       |  ${hllEstSql("regs")} AS hll_est,
       |  exact_nd
       |FROM vec JOIN ex ON vec.flag = ex.flag""".stripMargin

  /** sk_cms: per-row counters are bucket-collision counts; the estimate
    * joins each heavy key's 4 buckets back to those counts.
    */
  private[graft] lazy val cmsOracleSql: String = {
    val (cas, cbs) = graft.functions.Hashing.permConsts(cmsDepth)
    val mask = (BigInt(1) << 64) - 1
    val shift = BigInt(1) << (64 - cmsLogW)
    def bucket(j: Int): String = {
      val a = BigInt(cas(j)) & mask
      val b = BigInt(cbs(j)) & mask
      s"CAST(((($a::HUGEINT * hlo) % $U64 + (($a::HUGEINT * hhi) % 4294967296::HUGEINT) * 4294967296::HUGEINT + $b::HUGEINT) % $U64) // $shift::HUGEINT AS BIGINT) AS b$j"
    }
    val buckets = (0 until cmsDepth).map(bucket).mkString(", ")
    val counterCtes = (0 until cmsDepth).map(j =>
      s"ci$j AS (SELECT b$j AS b, CAST(sum(c) AS BIGINT) AS cc FROM bk JOIN cnt USING (g) GROUP BY 1)").mkString(",\n")
    val counterJoins = (0 until cmsDepth).map(j =>
      s"JOIN ci$j ON bk.b$j = ci$j.b").mkString(" ")
    val leastArgs = (0 until cmsDepth).map(j => s"ci$j.cc").mkString(", ")
    s"""WITH keys AS (SELECT CAST(l_partkey AS VARCHAR) AS g FROM lineitem),
       |dk AS MATERIALIZED (SELECT DISTINCT g FROM keys),
       |hh AS (SELECT g, $fnvSql AS h FROM dk),
       |hs AS (SELECT g, h % 4294967296::HUGEINT AS hlo, h // 4294967296::HUGEINT AS hhi FROM hh),
       |bk AS MATERIALIZED (SELECT g, $buckets FROM hs),
       |cnt AS MATERIALIZED (SELECT g, CAST(count(*) AS BIGINT) AS c FROM keys GROUP BY g),
       |$counterCtes,
       |heavy AS (SELECT g, c AS true_cnt FROM cnt WHERE c >= 45)
       |SELECT CAST(heavy.g AS BIGINT) AS l_partkey, true_cnt, least($leastArgs) AS cms_est
       |FROM heavy JOIN bk USING (g) $counterJoins""".stripMargin
  }

  /** ta_nbc / stream_nbc shared replay: full NBC train + score
    * (priors, add-one likelihoods, micro-nat terms, argmin QUALIFY).
    */
  private[graft] lazy val nbcOracleSql: String =
    """WITH toks AS (SELECT doc_id, source AS cls, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t FROM documents), train AS (SELECT * FROM toks WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '80000000'), pri AS (SELECT cls, CAST(count(*) AS BIGINT) AS nd FROM train GROUP BY 1), tot AS (SELECT CAST(sum(nd) AS BIGINT) AS n FROM pri), pr AS (SELECT cls, CAST(round(-ln(CAST(nd AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS prior_micro FROM pri, tot), tw AS (SELECT cls, unnest(t) AS w FROM train), cw AS (SELECT cls, w, CAST(count(*) AS BIGINT) AS cwc FROM tw GROUP BY 1, 2), tc AS (SELECT cls, CAST(count(*) AS BIGINT) AS totc FROM tw GROUP BY 1), v AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS vsz FROM tw), dt AS (SELECT doc_id, unnest(t) AS w FROM toks), dc AS (SELECT doc_id, w, cls FROM dt, (SELECT cls FROM pri)), terms AS (SELECT doc_id, dc.cls, CAST(round(-ln((CAST(coalesce(cwc, 0) AS DOUBLE) + 1.0) / (CAST(totc AS DOUBLE) + vsz)) * 1000000) AS BIGINT) AS m FROM dc LEFT JOIN cw ON dc.cls = cw.cls AND dc.w = cw.w JOIN tc ON dc.cls = tc.cls CROSS JOIN v), ds AS (SELECT doc_id, cls, CAST(sum(m) AS BIGINT) AS ts FROM terms GROUP BY 1, 2), base AS (SELECT d.doc_id, d.cls AS cls_truth, p.cls, p.prior_micro + coalesce(ds.ts, 0) AS score FROM (SELECT doc_id, cls FROM toks) d CROSS JOIN pr p LEFT JOIN ds ON ds.doc_id = d.doc_id AND ds.cls = p.cls) SELECT doc_id, cls_truth, cls AS pred_cls, CAST(score AS BIGINT) AS nll_micro FROM base QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score ASC, cls ASC) = 1"""

  /** CTE chain `keys → … → fm(flag, h)` replaying fnv1a64∘fmix64 over a
    * `keys(flag, g)` relation to the DISTINCT unsigned HUGEINT hash —
    * the hllVecCtes finalizer without the register split, shared by the
    * theta/KMV oracles.
    */
  private[graft] def fmixChainCtes(keysSql: String): String = {
    def mul64(c: BigInt): String =
      s"($c::HUGEINT * (u % 4294967296::HUGEINT) + (($c::HUGEINT * (u // 4294967296::HUGEINT)) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % $U64"
    val c1 = BigInt("ff51afd7ed558ccd", 16)
    val c2 = BigInt("c4ceb9fe1a85ec53", 16)
    s"""keys AS ($keysSql),
       |dk AS MATERIALIZED (SELECT DISTINCT flag, g FROM keys),
       |hh AS (SELECT flag, $fnvSql AS u FROM dk),
       |f1 AS (SELECT flag, xor(u, u // 8589934592::HUGEINT) AS u FROM hh),
       |f2 AS (SELECT flag, ${mul64(c1)} AS u FROM f1),
       |f3 AS (SELECT flag, xor(u, u // 8589934592::HUGEINT) AS u FROM f2),
       |f4 AS (SELECT flag, ${mul64(c2)} AS u FROM f3),
       |fm AS MATERIALIZED (SELECT DISTINCT flag, xor(u, u // 8589934592::HUGEINT) AS h FROM f4)""".stripMargin
  }

  /** sk_theta_grouped / stream_theta: per-flag fmix replay → unsigned
    * bottom-256 via QUALIFY → the same θ convention and truncating
    * division as kmvEstSql (not-full sketches degrade to exact counts).
    */
  private[graft] lazy val kmvGroupedOracleSql: String =
    s"""WITH ${fmixChainCtes("SELECT l_returnflag AS flag, CAST(l_orderkey AS VARCHAR) AS g FROM lineitem")},
       |sk AS MATERIALIZED (SELECT flag, h FROM fm QUALIFY row_number() OVER (PARTITION BY flag ORDER BY h) <= 256),
       |st AS (SELECT flag, CAST(count(*) AS BIGINT) AS n_sk, max(h) AS mx FROM sk GROUP BY 1),
       |est AS (SELECT flag, n_sk,
       |          CASE WHEN n_sk < 256 THEN n_sk
       |               ELSE CAST(((n_sk - 1)::HUGEINT * $U64) // mx AS BIGINT) END AS kmv_est
       |        FROM st),
       |ex AS (SELECT l_returnflag AS flag, count(DISTINCT l_orderkey) AS exact_nd FROM lineitem GROUP BY 1)
       |SELECT est.flag AS l_returnflag, n_sk, CAST(kmv_est AS BIGINT) AS kmv_est, exact_nd
       |FROM est JOIN ex ON est.flag = ex.flag""".stripMargin
}
