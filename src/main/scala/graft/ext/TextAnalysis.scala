package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-quality / language analysis for training-data pipelines. Every
  * function is a pure Column expression (codegen-friendly, no UDF), so the
  * whole battery can run in one pass over a 100 TB corpus.
  */
object TextAnalysis {

  // Small public stopword profiles (top function words per language).
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
      "that", "for", "on", "with", "as", "was", "at", "by", "be", "this"),
    "fr" -> Seq("le", "la", "les", "de", "des", "un", "une", "et", "ou", "dans",
      "est", "que", "pour", "sur", "avec", "au", "du", "il", "elle", "ce"),
    "de" -> Seq("der", "die", "das", "und", "oder", "von", "zu", "in", "ist",
      "es", "dass", "für", "auf", "mit", "als", "war", "bei", "sein", "ein", "eine"),
    "es" -> Seq("el", "la", "los", "las", "de", "un", "una", "y", "o", "en",
      "es", "que", "para", "sobre", "con", "al", "del", "se", "por", "este"),
    "it" -> Seq("il", "la", "le", "di", "dei", "un", "una", "e", "o", "in",
      "è", "che", "per", "su", "con", "al", "del", "si", "da", "questo"))

  def tokens(text: Column): Column = Dedup.tokens(text)

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text)).cast(LongType)

  /** BPE-ish token count: word pieces + individual punctuation marks —
    * the standard cheap proxy for subword token counts.
    */
  def bpeishTokenCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]")).cast(LongType)

  /** Fraction of characters that are punctuation. */
  def punctuationRatio(text: Column): Column = {
    val len = length(text).cast(DoubleType)
    val noPunct = length(regexp_replace(text, "\\p{Punct}", "")).cast(DoubleType)
    when(len > 0, (len - noPunct) / len).otherwise(0.0)
  }

  /** Fraction of tokens found in the language's stopword profile. */
  def stopwordRatio(text: Column, lang: String): Column = {
    val sw = stopwords(lang)
    val toks = tokens(text)
    val hits = aggregate(toks, lit(0),
      (acc, t) => acc + when(t.isin(sw: _*), 1).otherwise(0))
    when(size(toks) > 0, hits.cast(DoubleType) / size(toks)).otherwise(0.0)
  }

  /** Mean token length — word-salad and boilerplate detector component. */
  def meanTokenLength(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) > 0,
      aggregate(toks, lit(0), (acc, t) => acc + length(t)).cast(DoubleType) / size(toks))
      .otherwise(0.0)
  }

  /** Composite quality score in [0,1]: length sweet-spot, low punctuation
    * noise, natural stopword density, sane mean word length. The weights
    * are heuristic (public C4/Gopher-rule flavor), the point is the shape:
    * one deterministic expression per document.
    */
  def qualityScore(text: Column, lang: String = "en"): Column =
    round(rawQualityScore(text, lang), 4)

  /** Unrounded composite — the oracle-friendly form: every term is plain
    * IEEE double arithmetic in a fixed order, so an engine repeating the
    * same expression (e.g. DuckDB) produces bit-identical values.
    */
  def rawQualityScore(text: Column, lang: String = "en"): Column = {
    val nTok = tokenCount(text).cast(DoubleType)
    val lengthScore = when(nTok >= 50 && nTok <= 10000, 1.0)
      .when(nTok >= 10, 0.5).otherwise(0.1)
    val punctScore = lit(1.0) - least(punctuationRatio(text) * 4, lit(1.0))
    val stopScore = least(stopwordRatio(text, lang) * 3, lit(1.0))
    val mtl = meanTokenLength(text)
    val wordScore = when(mtl >= 3 && mtl <= 10, 1.0).otherwise(0.3)
    lengthScore * 0.3 + punctScore * 0.2 + stopScore * 0.3 + wordScore * 0.2
  }

  /** Heuristic language ID: argmax of stopword-profile hit rate. Returns
    * the 2-letter code; ties resolve to the lexicographically larger code
    * (struct-array max ordering — deterministic).
    */
  def langId(text: Column): Column = {
    val scored = array(stopwords.keys.toSeq.sorted.map(l =>
      struct(stopwordRatio(text, l).as("score"), lit(l).as("lang"))): _*)
    array_max(scored).getField("lang")
  }

  /** Canonical document fingerprint: md5 of normalized text (lowercase,
    * alphanumerics+spaces only, collapsed whitespace).
    */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9\\s]", ""), "\\s+", " ")))

  /** Top-k most frequent tokens across the corpus (vocabulary heavy
    * hitters). Explode → hash aggregate (map-side partial combine keeps
    * the shuffle at #distinct-tokens, not #token-occurrences) → global
    * top-k via TakeOrderedAndProject (no full sort materializes).
    * Deterministic ties: count desc, then token asc.
    */
  def topTokens(df: org.apache.spark.sql.DataFrame, textCol: Column, k: Int): org.apache.spark.sql.DataFrame =
    Par.fanOut(df).select(explode(tokens(textCol)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(k)

  /** Overlapping token-window chunking (the RAG / context-window splitter):
    * chunk i covers tokens [i·stride, i·stride + window); starts advance
    * by `stride` while they remain inside the document, so consecutive
    * chunks overlap by window − stride tokens and the tail chunk may be
    * short. Pure codegen'd array expressions — zero shuffles, one pass;
    * documents with no tokens emit no chunks.
    * Output: (id, chunk_idx, n_chunk_tokens, chunk_text).
    */
  def chunk(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
            window: Int, stride: Int): org.apache.spark.sql.DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      "chunk: need 0 < stride <= window")
    df.select(col(idCol).as("id"), tokens(col(textCol)).as("__toks__"))
      .withColumn("__n__", size(col("__toks__")))
      .filter(col("__n__") > 0)
      .select(col("id"), col("__toks__"),
        explode(sequence(lit(0L),
          // integral ceil-div (fp division truncation can mis-round)
          expr(s"(__n__ + ${stride - 1}) div $stride") - 1)).as("chunk_idx"))
      .select(col("id"), col("chunk_idx").cast("long").as("chunk_idx"),
        slice(col("__toks__"), (col("chunk_idx") * stride + 1).cast("int"),
          lit(window)).as("__c__"))
      .select(col("id"), col("chunk_idx"),
        size(col("__c__")).cast("long").as("n_chunk_tokens"),
        array_join(col("__c__"), " ").as("chunk_text"))
  }

  /** Real subword token statistics: greedy longest-match tokenization
    * (WordPiece apply) against a corpus-derived vocabulary — the top
    * `topN` words by (count desc, word) plus [a-z0-9] single characters —
    * giving per-doc piece counts an actual tokenizer would produce, not
    * whitespace word counts.
    *
    * Scale shape: the vocabulary is a bounded driver collect (topN rows,
    * the IVF-centroid pattern); tokenization runs on DISTINCT words only
    * (dictionary encoding — billions of occurrences, millions of
    * distinct words) and joins back by word. Exact across engines: the
    * greedy match is pure integer/string logic, mirrored in the oracle
    * by a recursive CTE.
    */
  def wordpieceStats(docs: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String, topN: Int = 200): org.apache.spark.sql.DataFrame = {
    val words = docs.select(explode(Dedup.tokens(col(textCol))).as("w"))
    val top = words.groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(topN)
      .collect().map(_.getString(0)).toSeq
    val chars = (('a' to 'z') ++ ('0' to '9')).map(_.toString)
    val vocab = (top ++ chars).distinct
    val stats = words.distinct().withColumn("n_pieces",
      graft.functions.Tokenize.greedyPieceCount(col("w"), vocab))
    val perDoc = docs.select(col(idCol).as("id"), explode(Dedup.tokens(col(textCol))).as("w"))
      .join(stats, "w")
      .groupBy("id").agg(
        count(lit(1)).as("n_words"),
        sum(when(col("n_pieces") < 0, 1L).otherwise(0L)).as("n_unk_words"),
        sum(when(col("n_pieces") > 0, col("n_pieces").cast("long")).otherwise(0L)).as("n_pieces"))
    docs.select(col(idCol).as("id")).join(perDoc, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_unk_words"), lit(0L)).as("n_unk_words"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"))
  }
}
