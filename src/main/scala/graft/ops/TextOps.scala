package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.doc_fingerprint

/** Text-analysis operators for the large-scale training-data pipeline over
  * `documents(doc_id, text, lang, source, n_chars)`: language-ID heuristic,
  * quality scoring, token counting, document fingerprinting.
  *
  * All pure column expressions — narrow, codegen'd, no shuffle; at 100 TB
  * these run at scan speed with full column pruning.
  *
  * Reference analogues: the reference normalizes/tokenizes text row-at-a-time
  * (`main_scripts/sent_bert_emb_viz_util.py:217-245`) and filters documents by
  * category (`main_scripts/step0_mimic3_data_processing.py:65`); these
  * operators are the web-corpus generalization.
  */
object TextOps {

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column =
    size(split(trim(text), "\\s+"))

  /** BPE-ish subword count: word chars grouped in runs of <=4 plus each
    * punctuation mark — a cheap deterministic proxy for byte-pair tokenizers
    * (regexp-based; no model). */
  def bpeishTokenCount(text: Column): Column =
    size(expr("regexp_extract_all(text, '\\\\w{1,4}|[^\\\\w\\\\s]', 0)"))

  /** Stopword hit ratio against a small embedded English stopword list. */
  private val enStops = Seq("the", "of", "and", "to", "in", "a", "is", "that",
    "it", "was", "for", "on", "with", "as", "at", "by", "be", "this", "are", "or")
  private val deStops = Seq("der", "die", "das", "und", "ist", "von", "zu",
    "mit", "den", "nicht", "ein", "eine", "auf", "im", "sich")
  private val frStops = Seq("le", "la", "les", "de", "des", "et", "est", "un",
    "une", "dans", "que", "pour", "qui", "au", "pas")
  private val esStops = Seq("el", "la", "los", "las", "de", "y", "es", "un",
    "una", "en", "que", "por", "con", "para", "no")

  private def stopRatio(tokens: Column, stops: Seq[String]): Column = {
    val stopArr = array(stops.map(lit): _*)
    val toks = array_distinct(filter(tokens, t => length(t) > 0))
    when(size(toks) === 0, lit(0.0)).otherwise(
      size(array_intersect(toks, stopArr)).cast("double") /
        least(size(toks), lit(stops.size)).cast("double"))
  }

  /** Language-ID heuristic: argmax of per-language stopword-hit ratios; "und"
    * (undetermined) when no language scores above `minScore`. Deterministic,
    * no model — the n-gram-heuristic tier of a real pipeline. */
  def langIdHeuristic(text: Column, minScore: Double = 0.1): Column = {
    val toks = split(lower(text), "[^a-zà-ÿäöüß]+")
    val scores = map(
      lit("en"), stopRatio(toks, enStops),
      lit("de"), stopRatio(toks, deStops),
      lit("fr"), stopRatio(toks, frStops),
      lit("es"), stopRatio(toks, esStops))
    // argmax over the fixed key set, deterministic tiebreak by key order
    val best = array(Seq("en", "de", "fr", "es").map(l =>
      struct(element_at(scores, l).as("s"), lit(l).as("l"))): _*)
    val top = array_max(best)
    when(top.getField("s") >= minScore, top.getField("l")).otherwise(lit("und"))
  }

  /** Quality signals + a composite score in [0,1]:
    * length band, mean word length band, alpha ratio, stopword presence.
    * Mirrors published web-corpus quality heuristics (C4/Gopher-style rules)
    * as deterministic column math. */
  def withQualitySignals(df: DataFrame, textCol: String = "text"): DataFrame = {
    val text = col(textCol)
    val toks = split(trim(text), "\\s+")
    df
      .withColumn("n_tokens", wsTokenCount(text))
      .withColumn("mean_word_len",
        when(size(toks) === 0, lit(0.0))
          .otherwise(length(regexp_replace(text, "\\s+", "")).cast("double") /
            size(toks).cast("double")))
      .withColumn("alpha_ratio",
        when(length(text) === 0, lit(0.0))
          .otherwise(length(regexp_replace(text, "[^A-Za-z]", "")).cast("double") /
            length(text).cast("double")))
      .withColumn("stop_ratio",
        stopRatio(split(lower(text), "[^a-z]+"), enStops))
      .withColumn("quality_score",
        round(
          (when(col("n_tokens").between(10, 100000), 0.25).otherwise(0.0) +
            when(col("mean_word_len").between(2.0, 12.0), 0.25).otherwise(0.0) +
            when(col("alpha_ratio") >= 0.5, 0.25).otherwise(0.0) +
            when(col("stop_ratio") >= 0.05, 0.25).otherwise(0.0)), 2))
  }

  /** Document fingerprint column (rolling/whole-text hash of normalized
    * text). */
  def withFingerprint(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("fingerprint", doc_fingerprint(col(textCol)))

  /** Cross-engine-reproducible fingerprint variant: md5 hex of
    * whitespace-normalized lowercase text. Slower than the xxhash64
    * fingerprint (use that in the pipeline hot path) but independently
    * checkable by any SQL engine. */
  def withFingerprintMd5(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("fingerprint",
      md5(regexp_replace(lower(col(textCol)), "\\s+", " ").cast("binary")))

  /** Decontamination: per training doc, how many evaluation/benchmark docs
    * share at least one word n-gram with it and how many distinct n-grams
    * leak (the standard pre-training hygiene pass — drop or down-weight
    * contaminated docs before the eval set's answers leak into training).
    * Word n-grams via Portable.wordNgramSet (whitespace tokens, short docs
    * collapse to one whole-doc gram) — the expression is cross-engine-
    * pinned by the g04 and q36 oracle rows. Deployments use n in 8..13;
    * the synthetic corpus' tiny vocabulary makes n=4 comparably selective.
    *
    * Scale shape: the eval set is tiny relative to a 10^12-doc corpus, so
    * its exploded n-gram table is BROADCAST and the training side is one
    * scan + explode + hash-agg — no corpus-sized shuffle. The broadcast is
    * byte-GATED (round-5 advice): the exploded eval table is kept once
    * (Cut.keep), its recorded bytes decide, and past the cap the same plan
    * sort-merges on the n-gram key instead of hitting Spark's 8 GiB
    * broadcast-relation limit. Both paths compute identical rows (join
    * strategy only — unit-pinned). */
  def decontaminate(train: DataFrame, evalDocs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 8,
      /** Max bytes of the exploded eval n-gram table to broadcast; <0
        * takes Cut.defaultBroadcastCap. */
      broadcastEvalMaxBytes: Long = -1L): DataFrame = {
    // token array projected FIRST, n-grams built from the attribute — the
    // one-select composition re-evaluates the tokenizer inside every lambda
    // element (see Portable.wordNgramsFromTokens)
    def ngrams(df: DataFrame, id: Column) = df
      .select(id.as("__id"),
        filter(split(lower(col(textCol)), "\\s+"), t => length(t) > 0).as("__tk"))
      .select(col("__id"),
        explode(Portable.wordNgramsFromTokens(col("__tk"), n)).as("ng"))
    val evalNg = Cut.keep("decontaminate_evalNg")(
      ngrams(evalDocs, col(idCol)).withColumnRenamed("__id", "eval_id"))
    val trainNg = ngrams(train, col(idCol)).withColumnRenamed("__id", idCol)
    val cap =
      if (broadcastEvalMaxBytes >= 0) broadcastEvalMaxBytes else Cut.defaultBroadcastCap
    val evalSide =
      if (Cut.bytes(evalNg) <= cap) broadcast(evalNg) else evalNg.hint("merge")
    trainNg.join(evalSide, "ng")
      .groupBy(idCol)
      .agg(countDistinct("eval_id").as("n_eval_docs"),
        countDistinct("ng").as("n_shared_ngrams"))
  }
}
