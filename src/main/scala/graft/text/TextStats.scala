package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.text.TextOps._

/** Text-analysis operators for the training-data pipeline: token counting,
  * quality scoring, corpus-trained n-gram language identification, and
  * shingle fingerprinting. All pure column expressions / joins.
  */
object TextStats {

  val Stopwords = Seq("the", "a", "of", "and", "to", "in", "is")

  /** (doc_id, n_chars, n_tokens): whitespace + regex token counting. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      size(tokens(col("text"))).cast("long").as("n_tokens"))

  /** Quality metrics per doc: sizes, stopword ratio, punctuation ratio,
    * mean token length, and a composite [0,1] score (quantized to 1e-6 for
    * engine-stable hashing). Heuristics in the spirit of C4/Gopher rules.
    */
  def quality(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("double")
    val nStop = size(filter(toks,
      t => t.isInCollection(Stopwords))).cast("double")
    val nPunct = (length(col("text")) -
      length(regexp_replace(col("text"), "[\\p{Punct}]", ""))).cast("double")
    // Σ token lengths == length of the text with all whitespace removed
    val meanTokLen = when(nTok > 0,
      length(regexp_replace(col("text"), "\\s+", "")).cast("double") / nTok)
      .otherwise(0.0)
    val stopRatio = when(nTok > 0, nStop / nTok).otherwise(0.0)
    val punctRatio = when(length(col("text")) > 0,
      nPunct / length(col("text"))).otherwise(0.0)
    // composite: enough tokens, some stopwords, sane token length, low punct
    val score =
      least(nTok / 50.0, lit(1.0)) * 0.4 +
        least(stopRatio * 10.0, lit(1.0)) * 0.2 +
        when(meanTokLen.between(3.0, 10.0), 1.0).otherwise(0.0) * 0.2 +
        (lit(1.0) - least(punctRatio * 5.0, lit(1.0))) * 0.2
    docs.select(col("doc_id"),
      nTok.cast("long").as("n_tokens"),
      floor(stopRatio * 1e6 + 0.5).cast("long").as("stop_ratio_q6"),
      floor(punctRatio * 1e6 + 0.5).cast("long").as("punct_ratio_q6"),
      floor(meanTokLen * 1e6 + 0.5).cast("long").as("mean_tok_len_q6"),
      floor(score * 1e6 + 0.5).cast("long").as("quality_q6"))
  }

  /** Character-trigram language profiles trained from labeled docs:
    * (lang, trigram, weight) — the `topK` most frequent trigrams per lang,
    * weight = relative frequency quantized. Small enough to broadcast.
    */
  def trainLangProfiles(docs: DataFrame, topK: Int = 100): DataFrame = {
    val tri = docs.select(col("lang"),
      explode(charTrigrams(col("text"))).as("trigram"))
      .groupBy("lang", "trigram").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("lang").orderBy(desc("cnt"), asc("trigram"))
    tri.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .select(col("lang"), col("trigram"),
        (lit(topK + 1) - col("rn")).cast("long").as("weight"))
  }

  /** Classify docs against trained profiles: (doc_id, lang_pred, score).
    * Profiles are broadcast (5 langs × topK rows). Ties → smaller lang.
    */
  def langId(docs: DataFrame, profiles: DataFrame): DataFrame = {
    val tri = docs.select(col("doc_id"),
      explode(charTrigrams(col("text"))).as("trigram"))
      .groupBy("doc_id", "trigram").agg(count(lit(1)).as("tf"))
    val scored = tri.join(broadcast(profiles), "trigram")
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("tf") * col("weight")).as("score"))
    scored.groupBy("doc_id")
      .agg(max_by(col("lang"), struct(col("score"),
        (lit(0) - ascii(col("lang"))).as("tie"))).as("lang_pred"),
        max(col("score")).as("score"))
  }

  /** Document fingerprints: full-text md5 plus the minimum shingle-md5
    * (a 1-hash MinHash — stable under token-order-preserving edits far from
    * the minimizing window; the dataflow form of rolling-hash winnowing).
    */
  def fingerprints(docs: DataFrame, n: Int = 5): DataFrame = {
    val sh = docs.select(col("doc_id"), md5(col("text")).as("text_md5"),
      shingles(tokens(col("text")), n).as("sh"))
    sh.select(col("doc_id"), col("text_md5"),
      when(size(col("sh")) > 0,
        array_min(transform(col("sh"), s => md5(s))))
        .otherwise(col("text_md5")).as("min_shingle_md5"))
  }

  /** Repetition filters in the style of the Gopher/MassiveText rules
    * (Rae et al. 2021, table A1): documents dominated by one repeated
    * n-gram or by duplicated n-grams are boilerplate/spam and get culled
    * before pretraining. Per doc:
    *   - top2gram_frac:   count of the most frequent token 2-gram / all 2-grams
    *   - dup3gram_frac:   fraction of 3-gram occurrences that are repeats
    *                      (1 - distinct/total)
    *   - dup_tok_frac:    fraction of token occurrences that are repeats
    *
    * Every metric is a row-local column expression — the most-frequent-gram
    * count is a linear run-length fold over the SORTED gram array
    * (`aggregate`), not an explode+groupBy — so the whole pass is a zero
    * shuffle corpus scan inside whole-stage codegen, the only shape a
    * 100 TB quality gate can afford. Fractions are single IEEE divisions of
    * identical integers in both engines, then q6-quantized.
    */
  def repetition(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val g2 = shingles(toks, 2)
    val g3 = shingles(toks, 3)
    // longest equal-run in the sorted array == max multiplicity of any 2-gram
    val maxRun = aggregate(array_sort(g2),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    def q6(c: org.apache.spark.sql.Column) = floor(c * 1e6 + 0.5).cast("long")
    def dupFrac(arr: org.apache.spark.sql.Column) =
      when(size(arr) > 0,
        (size(arr) - size(array_distinct(arr))).cast("double") /
          size(arr).cast("double")).otherwise(0.0)
    docs.select(col("doc_id"),
      q6(when(size(g2) > 0,
        maxRun.cast("double") / size(g2).cast("double")).otherwise(0.0))
        .as("top2gram_frac_q6"),
      q6(dupFrac(g3)).as("dup3gram_frac_q6"),
      q6(dupFrac(toks)).as("dup_tok_frac_q6"))
  }

  /** Email/phone patterns for [[piiScrub]], deliberately written in the
    * common subset of Java regex and RE2 (no backrefs, no lookaround) so the
    * DuckDB oracle applies the IDENTICAL patterns — the scrubbed-text hash
    * compare is then a genuine cross-engine regex-semantics check.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+?[0-9][0-9() -]{6,}[0-9]"

  /** PII scrubbing for a pretraining corpus: replace emails/phone-shaped
    * spans with placeholder tokens and count what was removed. Pure column
    * expressions (regexp_count / regexp_replace are codegen'd built-ins) —
    * a full-corpus scan with zero shuffle, the shape a 100 TB scrub pass
    * must have. Emails are scrubbed first so digit runs inside them are
    * never double-counted as phones.
    *
    * Returns (doc_id, n_emails, n_phones, scrubbed_md5).
    */
  def piiScrub(docs: DataFrame): DataFrame = {
    val deEmailed = regexp_replace(col("text"), EmailRe, "<EMAIL>")
    docs.select(col("doc_id"),
      regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(deEmailed, lit(PhoneRe)).cast("long").as("n_phones"),
      md5(regexp_replace(deEmailed, PhoneRe, "<PHONE>")).as("scrubbed_md5"))
  }

  /** CCNet-style n-gram language-model quality scoring: train an add-one
    * smoothed bigram LM on the corpus itself, score each document by its
    * per-token negative log-likelihood. CCNet (Wenzek et al. 2020) filters
    * CommonCrawl by exactly this statistic (they train KenLM on a clean
    * corpus; the smoothed-bigram core is the same computation), and it is
    * the one classic quality filter the pipeline lacked next to the
    * heuristic [[quality]] rules.
    *
    * Returns (doc_id, n_pairs, nll_q6, mean_nll_q6): `n_pairs` adjacent
    * token bigrams, `nll_q6` = −Σ q6(ln P(wᵢ|wᵢ₋₁)) with each TERM quantized
    * to 1e-6 BEFORE the sum — integer summation is order-free, so the result
    * is bit-stable across partitionings and engines (the grid-Lloyd
    * principle); `mean_nll_q6 = nll_q6 / n_pairs` (both non-negative, so
    * truncating division is floor division). P(w|v) = (c(vw)+1)/(c(v·)+V)
    * where c(v·) is v's bigram-prefix count and V the vocabulary size, so
    * probabilities normalize exactly. Docs with < 2 tokens score 0.
    *
    * Shape at 100 TB: the pair stream is a zero-shuffle array transform of
    * the token scan; training is ONE map-side-combinable groupBy(v, w) (the
    * prefix table c(v·) re-aggregates the bigram table — vocabulary-sized,
    * never a second corpus pass); scoring joins the pair stream against the
    * bigram-count dictionary (equi-join on (v, w), AQE picks broadcast vs
    * shuffle-hash from runtime stats) and ends in a map-side-combinable
    * groupBy(doc_id). Two corpus-sized shuffles total; V rides along as a
    * broadcast 1-row frame.
    */
  def lmPerplexity(docs: DataFrame): DataFrame = {
    val ws = filter(tokens(col("text")), t => length(t) >= 2)
    // adjacent pairs straight off the token array: no positional self-join.
    // The < 2-token guard matters: Spark's sequence(1, 0) DESCENDS ([1, 0]),
    // it is not empty — the un-elsed when yields null and explode skips it.
    val pairs = docs
      .select(col("doc_id"), ws.as("w"))
      .select(col("doc_id"), explode(when(size(col("w")) >= 2,
        transform(sequence(lit(1), size(col("w")) - 1),
          i => struct(element_at(col("w"), i).as("v"),
            element_at(col("w"), i + 1).as("nx"))))).as("p"))
      .select(col("doc_id"), col("p.v").as("v"), col("p.nx").as("nx"))

    val bigrams = pairs.groupBy(col("v"), col("nx"))
      .agg(count(lit(1)).as("cvw"))
    val prefixes = bigrams.groupBy(col("v"))
      .agg(sum(col("cvw")).as("cv"))
    val vocabRow = docs
      .select(explode(ws).as("word")).agg(count_distinct(col("word")).as("vv"))

    val termQ6 = floor(
      log((col("cvw") + 1).cast("double") / (col("cv") + col("vv"))) * 1e6
        + 0.5).cast("long")
    val scored = pairs
      .join(bigrams, Seq("v", "nx"))
      .join(prefixes, Seq("v"))
      .crossJoin(broadcast(vocabRow))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pairs"), (-sum(termQ6)).as("nll_q6"))

    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("nll_q6"), lit(0L)).as("nll_q6"),
        when(col("n_pairs").isNotNull,
          (col("nll_q6") / col("n_pairs")).cast("long"))
          .otherwise(0L).as("mean_nll_q6"))
  }
}
