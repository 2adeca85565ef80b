package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Exact set-similarity self-join with prefix filtering (the AllPairs /
  * PPJoin family — Bayardo et al. WWW 2007, Xiao et al. WWW 2008): all
  * document pairs whose TOKEN-SET Jaccard similarity reaches a threshold,
  * WITHOUT the O(n²) all-pairs comparison and WITHOUT the LSH family's
  * false negatives. Unlike minhash/simhash this is EXACT — the output is
  * provably identical to the naive cross join, which is what lets the
  * driver hash-compare it against a DuckDB all-pairs oracle.
  *
  * Prefix-filter principle: order all tokens by a global total order
  * (ascending corpus frequency, ties by token — rarest first). For a set
  * x, let prefix(x) = the first `|x| - ceil(t·|x|) + 1` tokens in that
  * order. If J(x,y) >= t then x and y share at least one prefix token.
  * Proof sketch: J(x,y) >= t implies |x∩y| >= ceil(t·|x|); if the prefixes
  * were disjoint, every common token would sit in the last ceil(t·|x|)-1
  * positions of x — fewer than |x∩y| slots. So joining on exploded prefix
  * tokens generates a candidate superset, and re-checking exact Jaccard
  * on candidates loses nothing.
  *
  * Scale shape (100 TB):
  *  - candidate generation shuffles (token, id) pairs only — text and
  *    full token arrays never shuffle in the candidate stage; arrays are
  *    re-joined by id for the bounded candidate set;
  *  - rarest-first ordering makes the hot join keys the RARE tokens:
  *    frequency-F token contributes at most F(F-1)/2 candidate pairs, and
  *    prefixes exclude each doc's most frequent tokens entirely (for
  *    t=0.7, ~30% of each doc's rarest tokens form its prefix);
  *  - the frequency table is a plain aggregate (mergeable, map-side
  *    combined); the total order is the `(tf, token)` composite itself —
  *    no global rank window exists, so there is NO single-partition sort
  *    of the vocabulary anywhere in the plan (a web-scale corpus has 10⁹
  *    distinct tokens; a zero-partition Window.orderBy over them would be
  *    a serialization point).
  *
  * Determinism: output carries integer intersection/union sizes plus the
  * IEEE double `inter/uni` — division of small ints is bit-exact across
  * engines, so the driver hash-matches doubles too.
  */
object SimJoin {

  /** Exact asymmetric CONTAINMENT join: all DIRECTED pairs (a, b), a≠b,
    * with |A∩B| ≥ (num/den)·|A| — "document a's token set is mostly
    * inside b's": the quote/subset/boilerplate-inclusion detector that
    * symmetric Jaccard misses (a 50-token quote inside a 5000-token doc
    * has Jaccard ≈ 0.01 but containment 1.0).
    *
    * Prefix principle, containment form: |A∩B| ≥ c_a := ⌈t·|A|⌉ means
    * A's first |A|−c_a+1 tokens in the global rarest-first order share
    * at least one token with B (pigeonhole on A's tail) — so candidates
    * join A-PREFIX tokens against B's FULL ordered token list (the
    * containing side takes no prefix: its own size does not bound the
    * overlap). Rarest-first keeps the indexed postings of A-prefix
    * tokens short. Both classic prunes apply with conservative fp
    * nudges: the weak length filter |B| ≥ t·|A| and the positional
    * bound 1 + min(n_a−p_a−1, n_b−p_b−1) ≥ t·|A| on the FIRST common
    * token. The verify predicate is the division-free integer
    * inter·den ≥ n_a·num — engine-exact; the emitted containment score
    * is one IEEE division of two small ints.
    */
  def containmentJoin(df: DataFrame, idCol: String, textCol: String,
                      num: Int, den: Int,
                      probePred: org.apache.spark.sql.Column = lit(true)): DataFrame = {
    require(num > 0 && den > 0 && num <= den, "containmentJoin: 0 < num/den <= 1")
    val threshold = num.toDouble / den.toDouble
    // Par.fanOut: a sub-split corpus file arrives as ONE scan partition,
    // which serializes tokenize + explode for every consumer (ProbeJobs
    // r12: the whole candidate build ran as a single 2.3 s task); no-op
    // when the input has natural parallelism
    // No n>0 filter: it is vacuous (an empty token set emits no explode
    // rows, grows no prefix, and so never reaches a candidate pair or the
    // inner verify joins) and, worse, predicate pushdown would substitute
    // the alias and evaluate the whole tokenize expression BELOW fanOut's
    // exchange — back inside the single-task scan stage (r12 ProbeJobs).
    val toks = Par.fanOut(df).select(col(idCol).as("id"),
      array_distinct(Dedup.tokens(col(textCol))).as("toks"))
      .withColumn("n", size(col("toks")).cast(LongType))
    val freq = toks.select(explode(col("toks")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("tf"))
    // fanOutPairs on the packed per-doc rows: probe AND index explode
    // from byRank (the index explodes EVERY token) and the candidate
    // join + partial distinct fan out from those partitions map-side —
    // upstream they sit in an AQE byte-coalesced shuffle (single-task
    // candidate stage in the r12 probe); one reshuffle of the packed
    // rows serves both sides
    val byRank = Par.fanOutPairs(
      toks.select(col("id"), col("n"), explode(col("toks")).as("token"))
        .join(freq, "token")
        .groupBy("id", "n")
        .agg(sort_array(collect_list(struct(col("tf"), col("token")))).as("keys"))
        .withColumn("plen", (col("n") - ceil(col("n") * threshold - 1e-9) + 1).cast(IntegerType)),
      Seq("id"))
    // probe side: A's prefix only, optionally restricted to an audit
    // cohort via probePred (over columns `id`/`n`) — the contained-side
    // index stays the full corpus; index side: B's FULL ordered list
    val probe = byRank.filter(probePred).select(col("id"), col("n"),
      posexplode(slice(col("keys"), lit(1), col("plen"))).as(Seq("pos", "k")))
    val index = byRank.select(col("id"), col("n"),
      posexplode(col("keys")).as(Seq("pos", "k")))
    val overlapUb = lit(1) +
      least(col("a.n") - col("a.pos") - 1, col("b.n") - col("b.pos") - 1)
    val candsRaw = probe.as("a").join(index.as("b"),
        col("a.k") === col("b.k") && col("a.id") =!= col("b.id") &&
        col("b.n").cast(DoubleType) >= col("a.n").cast(DoubleType) * threshold - 1e-9 &&
        overlapUb.cast(DoubleType) >= col("a.n").cast(DoubleType) * threshold - 1e-9)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    // fanOutPairs: the verify below costs per PAIR (array_intersect over
    // both full token arrays) while the pair rows are bytes — AQE's
    // byte-based coalescing would run it near-serial (guide §2)
    val cands = Par.fanOutPairs(candsRaw.distinct(), Seq("id_a", "id_b"))
    // sorted-fingerprint merge-count verify — same tradeoff and same
    // rationale as jaccardJoin's (hash + sort each doc's tokens once;
    // the inlined intersection evaluations become cheap merge passes)
    val hToks = toks.withColumn("th",
      array_sort(transform(col("toks"), t => xxhash64(t))))
    val withSets = cands
      .join(hToks.select(col("id").as("id_a"), col("th").as("t_a"), col("n").as("n_a")), "id_a")
      .join(hToks.select(col("id").as("id_b"), col("th").as("t_b"), col("n").as("n_b")), "id_b")
    withSets
      .withColumn("inter", graft.functions.VectorExprs.sortedInterCount(col("t_a"), col("t_b")))
      .filter(col("inter") * den >= col("n_a") * num)
      .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"), col("inter"),
        (col("inter").cast(DoubleType) / col("n_a").cast(DoubleType)).as("containment"))
  }

  /** All pairs (id_a < id_b) with Jaccard(tokens_a, tokens_b) >= t.
    * Output: (id_a, id_b, n_a, n_b, inter, uni, jaccard).
    */
  def jaccardJoin(df: DataFrame, idCol: String, textCol: String,
                  threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, "jaccardJoin: threshold in (0, 1]")
    // NOTE: deliberately NOT persisted — re-tokenizing per consumer costs
    // less than what caching breaks: a persisted relation's in-memory
    // size stats stop the planner broadcasting the prefix self-join and
    // the verify rejoins (measured 8 s → 45 s at sf0.1 with persist).
    // Par.fanOut (r12): the tokenize kernel must not inherit a sub-split
    // file's single scan partition — no-op at natural parallelism
    // No n>0 filter — vacuous (empty sets never reach candidates or the
    // inner verify joins) and predicate pushdown would drag the tokenize
    // expression below fanOut's exchange into the single-task scan stage
    val toks = Par.fanOut(df).select(col(idCol).as("id"),
      array_distinct(Dedup.tokens(col(textCol))).as("toks"))
      .withColumn("n", size(col("toks")).cast(LongType))

    // global rarest-first token order: the `(tf, token)` composite IS a
    // total order (ascending frequency, ties by token), so no rank needs
    // materializing — one mergeable aggregate over exploded tokens and
    // zero windows. Struct sort_array orders field-by-field, which is
    // exactly this composite order.
    val freq = toks.select(explode(col("toks")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("tf"))

    // per-doc order-sorted token keys; prefix length |x| - ceil(t|x|) + 1.
    // The 1e-9 nudge before ceil() guards the fp product: when t·n is
    // exactly integral, a 1-ulp-high product would ceil one too high and
    // SHORTEN the prefix — an incompleteness bug; the nudge can only
    // lengthen it (more candidates, never a missed pair).
    val byRank = toks.select(col("id"), col("n"), explode(col("toks")).as("token"))
      .join(freq, "token")
      .groupBy("id", "n")
      .agg(sort_array(collect_list(struct(col("tf"), col("token")))).as("keys"))
      .withColumn("plen", (col("n") - ceil(col("n") * threshold - 1e-9) + 1).cast(IntegerType))

    // candidates: (key, id, n, position) only through the shuffle, with
    // the two classic PPJoin prunes applied IN the join condition — both
    // provably lossless, both with the same conservative fp nudge:
    //  - length filter: J >= t forces min(n_a,n_b) >= t·max(n_a,n_b);
    //  - positional filter: a shared prefix token at 0-based positions
    //    (p_a, p_b) bounds the overlap by 1 + min(n_a-p_a-1, n_b-p_b-1),
    //    which must reach ceil(t/(1+t)·(n_a+n_b)), the minimum overlap
    //    J >= t allows. For a true pair the FIRST common token in global
    //    order passes (all other common tokens sort after it), so pruning
    //    on it never loses a pair.
    // fanOutPairs: the candidate join + partial distinct below fan out
    // ~300× from these prefix rows map-side, but the rows upstream sit in
    // an AQE byte-coalesced shuffle (5000 packed rows → 1 partition at
    // sf0.1, a 3.8 s single-task stage in the r12 probe) — reshuffle the
    // exploded prefix rows (ids + one token each, the cheapest frame in
    // the query) to cluster width before the fan-out
    val prefixes = Par.fanOutPairs(byRank.select(col("id"), col("n"),
      posexplode(slice(col("keys"), lit(1), col("plen"))).as(Seq("pos", "k"))),
      Seq("id", "pos"))
    val alpha = ceil((col("a.n") + col("b.n")).cast(DoubleType)
      * lit(threshold / (1.0 + threshold)) - 1e-9)
    val overlapUb = lit(1) +
      least(col("a.n") - col("a.pos") - 1, col("b.n") - col("b.pos") - 1)
    val candsRaw = prefixes.as("a").join(prefixes.as("b"),
        col("a.k") === col("b.k") && col("a.id") < col("b.id") &&
        least(col("a.n"), col("b.n")).cast(DoubleType) >=
          greatest(col("a.n"), col("b.n")).cast(DoubleType) * threshold - 1e-9 &&
        overlapUb.cast(DoubleType) >= alpha)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    // the pre-verify distinct is LOAD-BEARING: deferring dedup to after
    // the verify filter was measured 9× slower at sf0.1 (72 s vs 7.8 s,
    // round-4 stage probe) — without it every duplicate candidate drags
    // both full token arrays through the verify join. fanOutPairs: the
    // verify is per-PAIR CPU over byte-tiny pair rows — don't let AQE's
    // byte-based coalescing serialize it (r12 ProbeJobs: 90 s of task
    // time squeezed through 16 coalesced partitions)
    val cands = Par.fanOutPairs(candsRaw.distinct(), Seq("id_a", "id_b"))

    // exact verify on the bounded candidate set. The verify compares
    // SORTED 64-bit xxhash64 token fingerprints (hashed + sorted ONCE per
    // document) with an allocation-free merge count, instead of
    // array_intersect over the token strings: (a) the optimizer inlines
    // the filtered `inter` alias into the join condition, so the
    // intersection is evaluated up to 4× per candidate pair — a hash-set
    // build per eval (63 s CPU at sf0.1; 252 s with boxed longs), while
    // the merge count is ~|A|+|B| long compares; (b) hashing per doc, not
    // per pair, drops the hash work ~650× (candidate:doc ratio here).
    // |A∩B| is unchanged unless two distinct tokens of one compared pair
    // collide in 64 bits (~|A∪B|²·2⁻⁶⁵ per pair) — the same
    // fingerprint-width tradeoff the gram operators (ta_overlap,
    // dd_spans) already make at 60 bits.
    val hToks = toks.withColumn("th",
      array_sort(transform(col("toks"), t => xxhash64(t))))
    val withSets = cands
      .join(hToks.select(col("id").as("id_a"), col("th").as("t_a"), col("n").as("n_a")), "id_a")
      .join(hToks.select(col("id").as("id_b"), col("th").as("t_b"), col("n").as("n_b")), "id_b")
    withSets
      .withColumn("inter", graft.functions.VectorExprs.sortedInterCount(col("t_a"), col("t_b")))
      .withColumn("uni", col("n_a") + col("n_b") - col("inter"))
      .filter(col("uni") > 0 &&
        col("inter").cast(DoubleType) / col("uni").cast(DoubleType) >= threshold)
      .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"), col("inter"), col("uni"),
        (col("inter").cast(DoubleType) / col("uni").cast(DoubleType)).as("jaccard"))
  }
}
