package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.unsafe.types.UTF8String

/** Parameterized text-analysis toolkit over any frame with an id column and
  * a text column — quality scoring, TF-IDF, language ID, token counting.
  * All per-row work is built-in-function only (codegen'd, pushdown-safe);
  * shuffles happen on high-cardinality keys (doc id, token).
  *
  * Column-name contract: builders install fixed intermediate/output column
  * names (listed per method); a caller column with the same name is
  * overwritten (and intermediates like `toks` are dropped on return).
  */
object Text {

  /** The default English stopword set shared by every quality-filter
    * surface (the fixture registry keys, [[Sql.registerCorpus]]'s views) —
    * ONE definition so the Scala and SQL faces cannot drift. Callers with
    * a domain-specific list pass their own.
    */
  val defaultStopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** Adds `n_toks`, `n_stop`, `stop_ratio` and a `kept` quality flag
    * (char-length band + token floor + stopword-ratio cap). Pure per-row
    * projection — composes under any downstream filter or aggregate.
    *
    * Reserved column names: `n_toks`, `n_stop`, `stop_ratio`, `kept`
    * (outputs — caller columns of the same name are overwritten) and `toks`
    * (intermediate — dropped, INCLUDING a pre-existing caller column of
    * that name).
    */
  def qualityFlags(docs: DataFrame, textCol: String, nCharsCol: String,
      stopwords: Seq[String], minChars: Int = 100, maxChars: Int = 500,
      minToks: Int = 20, maxStopRatio: Double = 0.3): DataFrame =
    docs
      .withColumn("toks", split(col(textCol), " "))
      .withColumn("n_toks", size(col("toks")))
      .withColumn("n_stop", size(filter(col("toks"), t => t.isin(stopwords: _*))))
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_toks"))
      .withColumn("kept",
        col(nCharsCol).between(minChars, maxChars) &&
          col("n_toks") >= minToks && col("stop_ratio") < maxStopRatio)
      .drop("toks")

  /** Top-k tokens per document by tf·idf (smoothed idf = ln((1+N)/(1+df))).
    * Two hash aggregates + one token join; the per-doc top-k window
    * partitions on doc id (high cardinality, bounded partitions).
    *
    * Output schema is fixed: (id, tok, tf, df, tfidf, rn) — input columns
    * other than the id/text pair do not survive. The tf frame persists via
    * [[Caches]] — call `Caches.sweep(spark)` when done.
    */
  def tfidfTopK(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    val tf = Caches.cache(docs
      .select(col(idCol).as("id"), explode(split(col(textCol), " ")).as("tok"))
      .groupBy("id", "tok").agg(count(lit(1)).as("tf")))
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("id").orderBy(col("tfidf").desc, col("tok").asc)
    tf.join(df, Seq("tok")).crossJoin(broadcast(n))
      .withColumn("tfidf", col("tf") * log((lit(1.0) + col("n")) / (lit(1.0) + col("df"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("id"), col("tok"), col("tf"), col("df"),
        round(col("tfidf"), 4).as("tfidf"), col("rn"))
  }

  /** Per-document language prediction from a unigram naive-Bayes model
    * trained on the labeled corpus itself. Log-probs are quantized to
    * DECIMAL(28,6): the per-doc score sum becomes order-independent and a
    * 1-ulp libm `ln` divergence cannot flip scores. The model join carries
    * no broadcast hint — (lang × vocab) can outgrow broadcast limits at
    * corpus scale, so the planner/AQE picks the strategy.
    * Output: (id, lang, pred_lang, score).
    */
  def langIdPredictions(docs: DataFrame, idCol: String, textCol: String,
      langCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("id"), col(langCol).as("lang"),
      explode(split(col(textCol), " ")).as("tok"))
    val langTok = toks.groupBy("lang", "tok").agg(count(lit(1)).as("c"))
    val langTotal = toks.groupBy("lang").agg(count(lit(1)).as("tot"))
    val model = langTok.join(langTotal, Seq("lang"))
      .select(col("lang").as("m_lang"), col("tok").as("m_tok"),
        log((col("c") + 1.0) / (col("tot") + 1.0))
          .cast(DecimalType(28, 6)).as("logp"))
    val w = Window.partitionBy("id").orderBy(col("score").desc, col("m_lang").asc)
    toks.join(model, col("tok") === col("m_tok"), "inner")
      .groupBy("id", "lang", "m_lang")
      .agg(sum(col("logp")).as("score"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("id"), col("lang"), col("m_lang").as("pred_lang"), col("score"))
  }

  /** Token counts three ways (whitespace, word/number regex, BPE-ish 4-char
    * regex) as per-row columns. Column-based functions (no spliced SQL
    * strings) so any column name works.
    */
  def tokenCounts(docs: DataFrame, textCol: String): DataFrame = docs
    .withColumn("n_ws", size(split(col(textCol), " ")))
    .withColumn("n_re",
      size(regexp_extract_all(col(textCol), lit("[a-z]+|[0-9]+"), lit(0))))
    .withColumn("n_bpe4",
      size(regexp_extract_all(col(textCol), lit("[a-z]{1,4}"), lit(0))))

  /** Per-document negative log-likelihood under a unigram language model
    * trained on the corpus itself — the CCNet-style "perplexity vs an
    * in-domain LM" quality signal (low nll = fluent/common wording, high =
    * rare-token soup). Output: (id, n_toks, nll, ppl) with `ppl = e^nll`.
    *
    * Oracle discipline (same as [[langIdPredictions]]): per-vocab-word
    * log-probs quantize to DECIMAL(28,6) before the per-doc `tf·logp` sum,
    * so the sum is exact-decimal (order-independent) and a 1-ulp libm `ln`
    * divergence between engines almost surely cannot change it — the one
    * exception is a true log-prob landing within 1 ulp of a .5e-6
    * quantization boundary, where the rounding itself can flip per engine
    * (a tie-boundary caveat shared with [[bigramNll]] and [[charEntropy]];
    * no fixture value sits on one). `nll` is then one decimal→double cast
    * plus one IEEE division — emitted RAW. `ppl` re-enters libm (`exp`)
    * and is the caller's to round.
    *
    * Scale shape: tf = one (id, tok) hash aggregate (map-side combinable);
    * the LM derives from tf by a tok-keyed re-aggregate (vocab-sized, far
    * smaller than the token stream); the model join carries no broadcast
    * hint — vocab can outgrow broadcast at corpus scale, AQE decides. The
    * tf frame persists via [[Caches]] — `Caches.sweep(spark)` when done.
    */
  def unigramNll(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = Caches.cache(docs
      .select(col(idCol).as("id"), explode(split(col(textCol), " ")).as("tok"))
      .groupBy("id", "tok").agg(count(lit(1)).as("tf")))
    val lm = tf.groupBy("tok").agg(sum(col("tf")).as("cnt"))
    val tot = lm.agg(sum(col("cnt")).as("total"))
    val logp = lm.crossJoin(broadcast(tot))
      .select(col("tok").as("m_tok"),
        log(col("cnt") / col("total").cast("double"))
          .cast(DecimalType(28, 6)).as("logp"))
    tf.join(logp, col("tok") === col("m_tok"), "inner")
      .groupBy("id")
      .agg(sum(col("tf")).as("n_toks"),
        ((-sum(col("tf") * col("logp"))).cast("double")
          / sum(col("tf"))).as("nll"))
      .withColumn("ppl", exp(col("nll")))
  }

  /** Per-document negative log-likelihood under a BIGRAM language model
    * trained on the corpus itself — the conditional upgrade of
    * [[unigramNll]]: `p(w2|w1) = c(w1 w2) / Σ_w c(w1 w)`, so a document
    * reusing common words in UNCOMMON ORDER (word-salad that fools a
    * unigram LM) scores far from the corpus norm. Context counts derive
    * from the bigram counts themselves (not raw token counts), which makes
    * each conditional distribution properly normalized (Σ_w2 p(w2|w1) = 1).
    * Documents with fewer than 2 tokens have no bigrams and emit no row.
    * Output: (id, n_bigrams, nll, ppl); same oracle discipline as
    * [[unigramNll]] (DECIMAL(28,6)-quantized log-probs, raw `nll`, libm
    * `ppl` for the caller to round).
    *
    * Scale shape: tf = one (id, bigram) hash aggregate over the gram
    * stream; the LM re-aggregates tf by gram, contexts re-aggregate the LM
    * by first word (both far smaller than the gram stream); the model join
    * carries no broadcast hint — bigram vocab outgrows broadcast well
    * before unigram vocab does. tf persists via [[Caches]] —
    * `Caches.sweep(spark)` when done.
    */
  def bigramNll(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = Caches.cache(Dedup.wordGramStrings(docs, idCol, textCol, 2)
      .groupBy("id", "g").agg(count(lit(1)).as("tf")))
    val lm = tf.groupBy("g").agg(sum(col("tf")).as("cnt"))
    val ctx = lm.select(substring_index(col("g"), " ", 1).as("w1"), col("cnt"))
      .groupBy("w1").agg(sum(col("cnt")).as("ctx"))
    val logp = lm.withColumn("w1", substring_index(col("g"), " ", 1))
      .join(ctx, Seq("w1"))
      .select(col("g").as("m_g"),
        log(col("cnt") / col("ctx").cast("double"))
          .cast(DecimalType(28, 6)).as("logp"))
    tf.join(logp, col("g") === col("m_g"), "inner")
      .groupBy("id")
      .agg(sum(col("tf")).as("n_bigrams"),
        ((-sum(col("tf") * col("logp"))).cast("double")
          / sum(col("tf"))).as("nll"))
      .withColumn("ppl", exp(col("nll")))
  }

  /** HELD-OUT unigram LM scoring: train the LM on `trainDocs`, score
    * `scoreDocs` — the production shape of a perplexity filter (score
    * incoming data against a REFERENCE LM), which the self-trained
    * [[unigramNll]] cannot express: its inner model join silently DROPS
    * tokens the model never saw, underestimating perplexity exactly on the
    * out-of-vocabulary garbage it should flag.
    *
    * Smoothing is add-one (Laplace) over an event space of vocab + 1
    * outcomes, ONE formula for every token: `p(w) = (c_w + 1) /
    * (total + V + 1)` — an unseen token is simply the `c_w = 0` case, the
    * shared OOV floor `1 / (total + V + 1)`. Every token therefore scores,
    * none drop, and an all-OOV document scores strictly worse than any
    * in-vocab one (the floor is strictly below every seen-token
    * probability). Output: (id, n_toks, n_oov, nll, ppl) — `n_oov` counts
    * scored token POSITIONS the model never saw, the per-doc OOV-rate
    * signal a filter thresholds alongside ppl.
    *
    * Oracle discipline is [[unigramNll]]'s: per-vocab log-probs and the one
    * OOV floor quantize to DECIMAL(28,6) before the exact per-doc sum; raw
    * `nll`, libm `ppl` for the caller to round. Scale shape: the model join
    * becomes a LEFT join (OOV tokens must survive to hit the floor) with no
    * broadcast hint — vocab can outgrow broadcast, AQE decides; the two
    * scalar frames (totals, floor) broadcast as single rows. Nothing
    * persists — train and score sides are each read once.
    */
  def unigramNllScored(trainDocs: DataFrame, scoreDocs: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val lm = trainDocs
      .select(explode(split(col(textCol), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    val st = lm.agg(sum(col("cnt")).as("total"), count(lit(1)).as("vocab"))
    val logp = lm.crossJoin(broadcast(st))
      .select(col("tok").as("m_tok"),
        log((col("cnt") + lit(1.0)) / (col("total") + col("vocab") + lit(1.0)))
          .cast(DecimalType(28, 6)).as("logp"))
    val oov = st.select(
      log(lit(1.0) / (col("total") + col("vocab") + lit(1.0)))
        .cast(DecimalType(28, 6)).as("oov_logp"))
    scoreDocs
      .select(col(idCol).as("id"), explode(split(col(textCol), " ")).as("tok"))
      .groupBy("id", "tok").agg(count(lit(1)).as("tf"))
      .join(logp, col("tok") === col("m_tok"), "left")
      .crossJoin(broadcast(oov))
      .withColumn("lp", coalesce(col("logp"), col("oov_logp")))
      .groupBy("id")
      .agg(sum(col("tf")).as("n_toks"),
        sum(when(col("logp").isNull, col("tf")).otherwise(lit(0L)))
          .as("n_oov"),
        ((-sum(col("tf") * col("lp"))).cast("double")
          / sum(col("tf"))).as("nll"))
      .withColumn("ppl", exp(col("nll")))
  }

  /** HELD-OUT bigram LM scoring — the conditional twin of
    * [[unigramNllScored]], fixing [[bigramNll]]'s same unseen-gram drop.
    * One add-one formula covers all three cases:
    * `p(w2|w1) = (c(w1 w2) + 1) / (ctx(w1) + V + 1)` with V = the distinct
    * second-word vocabulary of the training bigrams — an unseen bigram
    * under a KNOWN context is the `c = 0` case (per-context floor
    * `1 / (ctx + V + 1)`), and an unknown context is additionally the
    * `ctx = 0` case (global floor `1 / (V + 1)`). Note the asymmetry is
    * correct Laplace behavior: a frequent context (large ctx) spreads its
    * smoothing mass thinner, so a novel continuation of a well-known
    * context scores WORSE than a gram in never-seen territory — surprise
    * is measured against how much evidence the model has.
    *
    * Output: (id, n_bigrams, n_oov, nll, ppl); `n_oov` counts scored gram
    * positions whose exact bigram the model never saw (either floor tier).
    * Documents with fewer than 2 tokens emit no row (no bigrams — same
    * contract as [[bigramNll]]). Same quantized-decimal oracle discipline;
    * scale shape: gram-keyed LEFT model join + w1-keyed LEFT context-floor
    * join (both no-hint — bigram vocab outgrows broadcast first), one
    * single-row global-floor broadcast.
    */
  def bigramNllScored(trainDocs: DataFrame, scoreDocs: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val lm = Dedup.wordGramStrings(trainDocs, idCol, textCol, 2)
      .groupBy("g").agg(count(lit(1)).as("cnt"))
    val ctx = lm.select(substring_index(col("g"), " ", 1).as("w1"), col("cnt"))
      .groupBy("w1").agg(sum(col("cnt")).as("ctx"))
    val vs = lm.select(substring_index(col("g"), " ", -1).as("w2")).distinct()
      .agg(count(lit(1)).as("v"))
    val logp = lm.withColumn("w1", substring_index(col("g"), " ", 1))
      .join(ctx, Seq("w1"))
      .crossJoin(broadcast(vs))
      .select(col("g").as("m_g"),
        log((col("cnt") + lit(1.0)) / (col("ctx") + col("v") + lit(1.0)))
          .cast(DecimalType(28, 6)).as("logp"))
    val ctxFloor = ctx.crossJoin(broadcast(vs))
      .select(col("w1").as("c_w1"),
        log(lit(1.0) / (col("ctx") + col("v") + lit(1.0)))
          .cast(DecimalType(28, 6)).as("ctx_logp"))
    val floor = vs.select(
      log(lit(1.0) / (col("v") + lit(1.0)))
        .cast(DecimalType(28, 6)).as("floor_logp"))
    Dedup.wordGramStrings(scoreDocs, idCol, textCol, 2)
      .groupBy("id", "g").agg(count(lit(1)).as("tf"))
      .withColumn("w1", substring_index(col("g"), " ", 1))
      .join(logp, col("g") === col("m_g"), "left")
      .join(ctxFloor, col("w1") === col("c_w1"), "left")
      .crossJoin(broadcast(floor))
      .withColumn("lp", coalesce(col("logp"), col("ctx_logp"), col("floor_logp")))
      .groupBy("id")
      .agg(sum(col("tf")).as("n_bigrams"),
        sum(when(col("logp").isNull, col("tf")).otherwise(lit(0L)))
          .as("n_oov"),
        ((-sum(col("tf") * col("lp"))).cast("double")
          / sum(col("tf"))).as("nll"))
      .withColumn("ppl", exp(col("nll")))
  }

  /** HELD-OUT TRIGRAM LM scoring with STUPID BACKOFF (Brants et al. 2007,
    * "Large Language Models in Machine Translation") — the web-scale LM
    * smoothing designed precisely for distributed count-based training:
    * no discount fitting, no held-out tuning pass, just relative
    * frequencies and a fixed backoff penalty, so the whole model is three
    * hash aggregates over the training gram stream. Score of a trigram
    * `w1 w2 w3`:
    *
    *   S(w3|w1 w2) = c(w1 w2 w3)/c(w1 w2)                 if the trigram was seen
    *               = α · c(w2 w3)/c(w2)                   else if the bigram was seen
    *               = α² · (c(w3)+1)/(total+V+1)           else (add-one unigram tier;
    *                                                       an OOV w3 is its c=0 floor)
    *
    * (α = 0.4 per the paper). The add-one base tier folds the OOV policy
    * of [[unigramNllScored]] into the last backoff step, so every scored
    * position gets exactly one score and an all-OOV document bottoms out
    * at the global floor — strictly worse than any in-vocab path. Scores
    * are not a normalized distribution (the paper's point: at corpus scale
    * normalization buys nothing a rank-based filter needs), so `nll` here
    * is a backoff SCORE in nats, comparable across docs scored against the
    * same model — exactly what a quality threshold consumes.
    *
    * Output: (id, n_trigrams, n_bo2, n_bo1, nll, ppl) — `n_bo2` counts
    * scored positions that fell past the trigram tier, `n_bo1` those that
    * also fell past the bigram tier (the per-doc novelty profile; `n_bo1`
    * ≥ OOV-position count). Docs with fewer than 3 tokens emit no row.
    *
    * Oracle discipline is [[unigramNllScored]]'s: each tier's final
    * log-score (penalty included) quantizes to DECIMAL(28,6) before the
    * exact per-doc sum; raw `nll`, libm `ppl` for the caller to round.
    * Scale shape: the three model frames derive from train-side gram
    * aggregates (every trigram's prefix bigram and every bigram's head
    * unigram exist in the same training stream, so the tier joins are
    * inner and lossless); scoring is three gram-keyed LEFT joins with no
    * broadcast hint (trigram vocab outgrows broadcast first, AQE decides)
    * plus one single-row floor broadcast. Nothing persists — each side is
    * read once per gram order.
    */
  def trigramBackoffNll(trainDocs: DataFrame, scoreDocs: DataFrame,
      idCol: String, textCol: String, alpha: Double = 0.4): DataFrame = {
    val tri = Dedup.wordGramStrings(trainDocs, idCol, textCol, 3)
      .groupBy("g").agg(count(lit(1)).as("c3"))
    val bi = Dedup.wordGramStrings(trainDocs, idCol, textCol, 2)
      .groupBy("g").agg(count(lit(1)).as("c2"))
    val uni = trainDocs
      .select(explode(split(col(textCol), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c1"))
    val st = uni.agg(sum(col("c1")).as("total"), count(lit(1)).as("v"))
    val lp3 = tri.withColumn("pre", substring_index(col("g"), " ", 2))
      .join(bi.select(col("g").as("pre"), col("c2").as("cpre")), Seq("pre"))
      .select(col("g").as("m3"),
        log(col("c3") / col("cpre").cast("double"))
          .cast(DecimalType(28, 6)).as("lp3"))
    val lp2 = bi.withColumn("w1", substring_index(col("g"), " ", 1))
      .join(uni.select(col("tok").as("w1"), col("c1").as("cw1")), Seq("w1"))
      .select(col("g").as("m2"),
        log(lit(alpha) * col("c2") / col("cw1").cast("double"))
          .cast(DecimalType(28, 6)).as("lp2"))
    val lp1 = uni.crossJoin(broadcast(st))
      .select(col("tok").as("m1"),
        log(lit(alpha * alpha) * (col("c1") + lit(1.0))
            / (col("total") + col("v") + lit(1.0)))
          .cast(DecimalType(28, 6)).as("lp1"))
    val floor = st.select(
      log(lit(alpha * alpha) / (col("total") + col("v") + lit(1.0)))
        .cast(DecimalType(28, 6)).as("floor_lp"))
    Dedup.wordGramStrings(scoreDocs, idCol, textCol, 3)
      .groupBy("id", "g").agg(count(lit(1)).as("tf"))
      .withColumn("suf", substring_index(col("g"), " ", -2))
      .withColumn("w3", substring_index(col("g"), " ", -1))
      .join(lp3, col("g") === col("m3"), "left")
      .join(lp2, col("suf") === col("m2"), "left")
      .join(lp1, col("w3") === col("m1"), "left")
      .crossJoin(broadcast(floor))
      .withColumn("lp",
        coalesce(col("lp3"), col("lp2"), col("lp1"), col("floor_lp")))
      .groupBy("id")
      .agg(sum(col("tf")).as("n_trigrams"),
        sum(when(col("lp3").isNull, col("tf")).otherwise(lit(0L)))
          .as("n_bo2"),
        sum(when(col("lp3").isNull && col("lp2").isNull, col("tf"))
          .otherwise(lit(0L))).as("n_bo1"),
        ((-sum(col("tf") * col("lp"))).cast("double")
          / sum(col("tf"))).as("nll"))
      .withColumn("ppl", exp(col("nll")))
  }

  /** DSIR-style importance log-ratio (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score each document of a
    * RAW corpus by how much more likely its tokens are under a TARGET-
    * domain LM than under the raw-corpus LM —
    * `logratio = (1/n) Σ_w tf_w · (log p_target(w) − log p_raw(w))` —
    * then resample the raw corpus toward high-ratio docs. Positive means
    * target-like, negative means raw-background-like; per-token
    * normalization makes the ratio length-comparable, and thresholding at
    * 0 is the natural keep rule.
    *
    * Both LMs use [[unigramNllScored]]'s add-one policy over their own
    * vocab (`p(w) = (c+1)/(total+V+1)`, OOV = the c=0 floor), so both
    * sides score every token and the ratio never drops a position. The
    * per-token difference of two DECIMAL(28,6) log-probs is exact decimal,
    * so the per-doc sum stays order-independent; one double division at
    * the end, emitted RAW. Output: (id, n_toks, n_oov_t, logratio, kept)
    * — `n_oov_t` counts positions unseen by the TARGET model (high
    * `n_oov_t` with positive `logratio` flags a doc pulled up purely by
    * raw-side rarity).
    *
    * Scale shape: two token-keyed model aggregates (the target side is
    * small by construction — it is the curated domain sample); scoring is
    * two tok-keyed LEFT joins on the raw tf stream, no broadcast hint
    * (the raw vocab side can outgrow broadcast, AQE decides) plus two
    * single-row floor broadcasts. Nothing persists.
    */
  def dsirLogRatios(targetDocs: DataFrame, rawDocs: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    def lm(docs: DataFrame, tag: String): (DataFrame, DataFrame) = {
      val cnt = docs.select(explode(split(col(textCol), " ")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
      val st = cnt.agg(sum(col("cnt")).as("total"), count(lit(1)).as("vocab"))
      val logp = cnt.crossJoin(broadcast(st))
        .select(col("tok").as(s"m_$tag"),
          log((col("cnt") + lit(1.0)) / (col("total") + col("vocab") + lit(1.0)))
            .cast(DecimalType(28, 6)).as(s"lp_$tag"))
      val floor = st.select(
        log(lit(1.0) / (col("total") + col("vocab") + lit(1.0)))
          .cast(DecimalType(28, 6)).as(s"floor_$tag"))
      (logp, floor)
    }
    val (lpT, flT) = lm(targetDocs, "t")
    val (lpR, flR) = lm(rawDocs, "r")
    rawDocs
      .select(col(idCol).as("id"), explode(split(col(textCol), " ")).as("tok"))
      .groupBy("id", "tok").agg(count(lit(1)).as("tf"))
      .join(lpT, col("tok") === col("m_t"), "left")
      .join(lpR, col("tok") === col("m_r"), "left")
      .crossJoin(broadcast(flT)).crossJoin(broadcast(flR))
      .withColumn("d",
        coalesce(col("lp_t"), col("floor_t"))
          - coalesce(col("lp_r"), col("floor_r")))
      .groupBy("id")
      .agg(sum(col("tf")).as("n_toks"),
        sum(when(col("lp_t").isNull, col("tf")).otherwise(lit(0L)))
          .as("n_oov_t"),
        (sum(col("tf") * col("d")).cast("double")
          / sum(col("tf"))).as("logratio"))
      .withColumn("kept", col("logratio") > lit(0.0))
  }

  /** Temperature-scaled domain mixture weights — the data-mixing primitive
    * of multilingual/multi-source pretraining (mT5, PaLM, GPT-3 dataset
    * construction): given per-domain token masses `n_i`, the sampling
    * weight at temperature `alpha` is
    *
    *   w_i = n_i^alpha / Σ_j n_j^alpha
    *
    * (equivalently p_i^alpha normalized — the corpus-total factor cancels).
    * `alpha = 1` reproduces natural proportions; `alpha → 0` flattens
    * toward uniform, up-sampling small domains. Output per domain:
    * (domain, n_docs, n_toks, p_raw, weight, boost) where `p_raw = n_i/N`
    * is the natural share and `boost = weight/p_raw` is the epoch
    * multiplier a sampler applies to that domain (>1 = up-sampled; the
    * number a data loader actually consumes).
    *
    * Float discipline: `p_raw` is a single exact-integer IEEE division,
    * emitted raw. Each `n_i^alpha` re-enters libm (`pow`), so it quantizes
    * to DECIMAL(28,6) BEFORE the normalizer sum — the sum is then exact
    * decimal (order-independent, immune to both engines' aggregation
    * order); `weight`/`boost` each end in one libm-adjacent division and
    * are the caller's to round (the registered key rounds at 4 decimals).
    *
    * Scale shape: one hash aggregate to the domain grain (map-side
    * combinable — the shuffle moves one row per partition per domain), a
    * single-row total broadcast back onto the domain frame. The domain
    * frame is vocabulary-sized (languages, sources), never corpus-sized.
    */
  def mixtureWeights(docs: DataFrame, domainCol: String, textCol: String,
      alpha: Double = 0.7): DataFrame = {
    val dom = docs
      .groupBy(col(domainCol).as("domain"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col(textCol), " "))).cast("long").as("n_toks"))
      .withColumn("pw",
        pow(col("n_toks").cast("double"), lit(alpha))
          .cast(DecimalType(28, 6)))
    val st = dom.agg(sum(col("n_toks")).as("total"), sum(col("pw")).as("z"))
    dom.crossJoin(broadcast(st))
      .select(col("domain"), col("n_docs"), col("n_toks"),
        (col("n_toks").cast("double") / col("total")).as("p_raw"),
        (col("pw") / col("z")).cast("double").as("weight"),
        ((col("pw") / col("z")).cast("double")
          / (col("n_toks").cast("double") / col("total"))).as("boost"))
  }

  /** Applies [[mixtureWeights]] as a DETERMINISTIC resampler — the step a
    * data loader actually consumes: each document of domain `i` with epoch
    * multiplier `boost_i = w_i/p_i` replicates `floor(boost_i)` times plus
    * one more iff its hash fraction falls below `frac(boost_i)`, so the
    * expected token mass per domain is exactly `w_i · N` and two runs (or
    * two engines) pick the SAME extra copies — no RNG, resumable by
    * construction. Output per domain: (domain, n_docs, n_copies, toks_in,
    * toks_out, weight, realized_frac) — `realized_frac` is the achieved
    * post-resample token share to hold against the target `weight` (they
    * differ by the hash-threshold granularity, shrinking as 1/√docs).
    *
    * The hash fraction is the first two md5 nibbles of the id (256 bins,
    * engine-portable — the same nibble idiom as the stratified sampler);
    * `realized_frac` is an exact-integer ratio emitted raw, `weight`
    * re-enters libm upstream and is the caller's to round.
    *
    * Scale shape: the weight frame is domain-grain (vocabulary-sized) and
    * broadcast onto the corpus — the corpus never shuffles; per-row work is
    * one md5 + integer arithmetic, and the final aggregate is domain-grain.
    * The replication itself stays VIRTUAL here (copy counts, not exploded
    * rows) — a writer applies `explode(sequence(1, n_copies))` at shard
    * time, keeping the multiplier a number until the last moment.
    */
  def mixtureResample(docs: DataFrame, domainCol: String, idCol: String,
      textCol: String, alpha: Double = 0.7): DataFrame = {
    val w = mixtureWeights(docs, domainCol, textCol, alpha)
      .select(col("domain"), col("weight"), col("boost"))
    val perDoc = docs
      .select(col(domainCol).as("domain"), col(idCol).as("id"),
        size(split(col(textCol), " ")).cast("long").as("n_toks"))
      .join(broadcast(w), Seq("domain"))
      .withColumn("hfrac", expr(
        s"((instr('0123456789abcdef', substring(md5(cast(id as string)), 1, 1)) - 1) * 16 + " +
          s"(instr('0123456789abcdef', substring(md5(cast(id as string)), 2, 1)) - 1)) / 256.0"))
      .withColumn("n_copies",
        floor(col("boost")).cast("long") +
          when(col("hfrac") < col("boost") - floor(col("boost")), lit(1L))
            .otherwise(lit(0L)))
    val dom = perDoc.groupBy("domain")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_copies")).as("n_copies"),
        sum(col("n_toks")).as("toks_in"),
        sum(col("n_copies") * col("n_toks")).as("toks_out"),
        first(col("weight")).as("weight"))
    val tot = dom.agg(sum(col("toks_out")).as("total_out"))
    dom.crossJoin(broadcast(tot))
      .select(col("domain"), col("n_docs"), col("n_copies"), col("toks_in"),
        col("toks_out"), col("weight"),
        (col("toks_out").cast("double") / col("total_out")).as("realized_frac"))
  }

  /** Fixed-size token windows with overlap — the tokenize-then-chunk step
    * that turns variable-length documents into training sequences. Chunks
    * start at token positions `1, 1+stride, 1+2·stride, …` (1-based); a
    * document of `n` tokens yields `1 + ceil(max(0, n-window)/stride)`
    * chunks, so every token is covered, consecutive chunks overlap by
    * `window - stride` tokens, only the last chunk may run short, and a
    * tail fully contained in the previous window is never emitted (the
    * tokenizer-overflow convention). Output one row per chunk:
    * (id, chunk_idx, start, len, first_tok, last_tok) — the boundary
    * tokens pin the arithmetic under the cross-engine gate without
    * shipping the chunk text itself.
    *
    * Scale shape: pure per-row projection + one generator explode — no
    * shuffle anywhere, fully codegen'd; output size is `Σ ceil(n_i/stride)`
    * rows, linear in corpus tokens. The chunk-index sequence derives from
    * the CLOSED-FORM count (`sequence(0, n_chunks-1)`), not a filtered
    * over-generation, so no wasted rows exist even transiently.
    */
  def chunkStride(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 512, stride: Int = 384): DataFrame = {
    require(stride >= 1 && window >= stride,
      s"need 1 <= stride <= window, got window=$window stride=$stride")
    docs
      .select(col(idCol).as("id"), split(col(textCol), " ").as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .filter(col("n") > 0)
      .withColumn("n_chunks",
        lit(1L) + ceil(greatest(col("n") - window, lit(0L)).cast("double")
          / stride).cast("long"))
      .select(col("id"), col("toks"), col("n"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_idx"))
      .withColumn("start", lit(1L) + col("chunk_idx") * stride)
      .withColumn("len", least(lit(window.toLong), col("n") - col("start") + 1))
      .select(col("id"), col("chunk_idx"), col("start"), col("len"),
        element_at(col("toks"), col("start").cast("int")).as("first_tok"),
        element_at(col("toks"), (col("start") + col("len") - 1).cast("int"))
          .as("last_tok"))
  }

  /** Per-document character-level Shannon entropy in nats — the garbage /
    * boilerplate detector orthogonal to token-level quality signals: natural
    * prose sits near ~2.8-3.0 nats, while `aaaa…` runs, single-char spam,
    * and low-alphabet noise fall far below. Output: (id, n_ch, n_uniq_ch,
    * entropy, kept) with `kept = entropy >= minEntropy` decided on the
    * ROUNDED value so the flag is engine-portable.
    *
    * Entropy uses the shuffle-friendly decomposition
    * `H = ln(n) - (Σ c·ln c)/n` over per-(id, char) counts `c`: the interior
    * `ln c` terms quantize to DECIMAL(28,6) (order-independent exact sum,
    * libm-divergence-immune); the single trailing `ln(n)` term re-enters
    * libm, so `entropy` emits rounded to 4 decimals.
    *
    * The symbol unit is the Unicode CODEPOINT in both engines — MEASURED,
    * not assumed: Spark's `split(text, "")` splits a surrogate-pair emoji
    * into one element (UTF8String iterates codepoints, not UTF-16 units)
    * and DuckDB's `string_split(text, '')` produces the identical 6-element
    * sequence for the same mixed Greek/emoji input, so multilingual corpora
    * replay under the cross-engine gate with no ASCII restriction (an r6
    * scaladoc claimed a UTF-16/codepoint divergence here; the r7 ApiSpec
    * multi-byte test disproves it). Neither engine groups grapheme
    * CLUSTERS — a combining-mark sequence counts per codepoint, same on
    * both sides.
    *
    * Scale shape: one explode to (id, char) → hash aggregate on a key whose
    * cardinality is ≤ docs × alphabet (map-side combine collapses each
    * partition to the alphabet first); then a per-id re-aggregate. No
    * windows, no joins.
    */
  def charEntropy(docs: DataFrame, idCol: String, textCol: String,
      minEntropy: Double = 2.0): DataFrame = {
    val cc = docs
      .filter(length(col(textCol)) > 0)
      .select(col(idCol).as("id"), explode(split(col(textCol), "")).as("ch"))
      // Spark's regex split runs at limit -1 and can keep a trailing
      // zero-width match as an empty element; a codepoint-splitting engine
      // never emits one — drop it before counting
      .filter(col("ch") =!= "")
      .groupBy("id", "ch").agg(count(lit(1)).as("c"))
    cc.groupBy("id")
      .agg(sum(col("c")).as("n_ch"),
        count(lit(1)).as("n_uniq_ch"),
        sum(col("c") * log(col("c")).cast(DecimalType(28, 6)))
          .cast("double").as("slc"))
      // greatest(0, ·): entropy is mathematically >= 0, but the DECIMAL
      // quantization of `ln c` can land ~1e-6 ABOVE the true value, pushing
      // a single-char doc's `ln(n) - Q(ln n)` a hair negative — and
      // `round` would then emit -0.0, which hash-compares/boxes unequal
      // to 0.0. Clamp BEFORE rounding (no signed-zero ambiguity: 0.0 beats
      // any negative, and a true-zero doc reaches here as exactly 0.0).
      .withColumn("entropy",
        round(greatest(lit(0.0), log(col("n_ch")) - col("slc") / col("n_ch")), 4))
      .withColumn("kept", col("entropy") >= minEntropy)
      .drop("slc")
  }

  /** Benchmark decontamination: for every doc in `evalDocs`, the fraction of
    * its distinct word-`n`-grams that appear anywhere in `corpusDocs` — the
    * overlap check a training pipeline runs before trusting an eval set.
    * Output: (id, n_grams, n_contaminated, contamination), one row per
    * eval doc that has at least n tokens.
    *
    * Scale shape: the corpus side reduces to DISTINCT gram keys (one
    * hash-shuffle, no doc ids carried); the eval side left-semi-joins on
    * the gram key — never a doc×doc comparison, and the (small) eval side
    * is the build side when the planner broadcasts.
    */
  def contamination(evalDocs: DataFrame, corpusDocs: DataFrame, idCol: String,
      textCol: String, n: Int = 5): DataFrame = {
    val eg = Dedup.wordGrams(evalDocs, idCol, textCol, n)
    // gram-ONLY distinct on the huge side: the per-doc (id, g) distinct
    // would be a second full shuffle just to be thrown away
    val cg = Dedup.wordGramsRaw(corpusDocs, idCol, textCol, n)
      .select("g").distinct()
    contaminationScore(eg, cg)
  }

  /** Bloom-accelerated [[contamination]] with IDENTICAL output: the corpus
    * side (the 100 TB side) is pre-filtered by a Bloom filter built over the
    * eval grams (the small side, by contract of decontamination) before its
    * distinct + semi-join. A corpus gram that matches no eval gram — the
    * overwhelming majority — is dropped at scan time by a broadcast bit
    * array instead of surviving into the gram shuffle, so the corpus-side
    * distinct shrinks from |corpus grams| to ~|eval grams| (+fpp noise).
    * Bloom false positives are removed by the exact semi-join that follows;
    * false negatives don't exist — the result is EXACTLY the contamination
    * score, not an approximation.
    *
    * Eager: building the filter runs one aggregation job over the eval
    * grams (`DataFrameStatFunctions.bloomFilter`). The probe is the
    * codegen'd [[graft.functions.BloomProbe]] expression over the serialized
    * filter (Spark exposes no public Column function for Bloom membership —
    * `might_contain` is internal to runtime filtering; this was the
    * engine's one hot-path ScalaUDF before r5); the input is the
    * already-hashed 64-bit gram, so the per-row cost is a few hashes on a
    * long, fused into the scan-side whole-stage-codegen span.
    */
  def contaminationBloom(evalDocs: DataFrame, corpusDocs: DataFrame,
      idCol: String, textCol: String, n: Int = 5,
      fpp: Double = 0.01): DataFrame = {
    val eg = Caches.cache(Dedup.wordGrams(evalDocs, idCol, textCol, n))
    val egKeys = eg.select("g").distinct()
    val expected = math.max(egKeys.count(), 1000L)
    val bf = egKeys.stat.bloomFilter("g", expected, fpp)
    val bytes = new java.io.ByteArrayOutputStream()
    bf.writeTo(bytes)
    graft.functions.VectorFunctions.register(corpusDocs.sparkSession)
    val cg = Dedup.wordGramsRaw(corpusDocs, idCol, textCol, n)
      .filter(call_function("bloom_probe", lit(bytes.toByteArray), col("g")))
      .select("g").distinct()
    contaminationScore(eg, cg)
  }

  /** Shared scoring tail: distinct eval grams `eg` = (id, g) vs candidate
    * corpus gram keys `cg` = (g).
    */
  private def contaminationScore(eg: DataFrame, cg: DataFrame): DataFrame = {
    val tot = eg.groupBy("id").agg(count(lit(1)).as("n_grams"))
    val hit = eg.join(cg, Seq("g"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_contaminated"))
    tot.join(hit, Seq("id"), "left")
      .select(col("id"), col("n_grams"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        (coalesce(col("n_contaminated"), lit(0L)).cast("double") / col("n_grams"))
          .as("contamination"))
  }

  /** Byte-pair-encoding merge training (Sennrich et al. 2016). The merge
    * loop is sequential over a vocabulary-sized state, so it runs the way
    * the reference trainer, HF tokenizers, SentencePiece and MLlib's
    * CountVectorizer/Word2Vec run theirs: ONE Spark aggregate builds the
    * word-frequency table ([[bpeVocabulary]] — Zipf keeps it orders of
    * magnitude below the corpus) and collects it, and the merges run in
    * driver memory over each word's (tokens, freq). A step sums pair counts
    * by word frequency, picks the winner by (count desc, lhs, rhs) in
    * Spark's string order (UTF-8 binary, `UTF8String.binaryCompare`, which
    * sorts a supplementary character above U+FF61 where
    * `String.compareTo` sorts it below) and applies it with [[bpeFold]].
    *
    * Bounds: driver memory is O(vocabulary tokens) and driver work is
    * O(steps × vocabulary tokens); nothing is persisted. Output: one row
    * per merge step — (step, lhs, rhs, merged, pair_count); stops early
    * once the vocabulary has no pair left.
    */
  def bpeMerges(docs: DataFrame, textCol: String, steps: Int = 10): DataFrame = {
    require(steps > 0, s"steps must be positive, got $steps")
    val byRank = Ordering.Tuple3(Ordering.Long.reverse, sparkStringOrder, sparkStringOrder)
    var vocab = bpeVocabulary(docs, textCol).map { case (_, toks, freq) => (toks, freq) }
    val merges = (1 to steps).iterator.map { step =>
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
        .withDefaultValue(0L)
      for ((toks, freq) <- vocab; i <- 1 until toks.length)
        counts((toks(i - 1), toks(i))) += freq
      counts.iterator.map { case ((a, b), c) => (c, a, b) }.minOption(byRank)
        .map { case (c, a, b) =>
          vocab = vocab.map { case (toks, freq) => (bpeFold(toks, a, b), freq) }
          (step, a, b, a + b, c)
        }
    }.takeWhile(_.isDefined).flatten.toList
    docs.sparkSession.createDataFrame(merges).toDF("step", "lhs", "rhs", "merged", "pair_count")
  }

  private val sparkStringOrder: Ordering[String] = (x, y) =>
    UTF8String.fromString(x).binaryCompare(UTF8String.fromString(y))

  /** The (word, characters, frequency) table BPE trains and applies over,
    * collected: words are the space-split, non-empty words of `textCol`,
    * and a word's initial tokens are its characters (`split(w, "")`,
    * one per code point). Words containing '|' are left out — the
    * DuckDB twin folds on a '|'-delimited string.
    */
  private def bpeVocabulary(docs: DataFrame,
      textCol: String): Array[(String, Array[String], Long)] =
    bpeWords(docs, textCol).groupBy("w").agg(count(lit(1)).as("freq"))
      .select(col("w"), split(col("w"), ""), col("freq"))
      .collect().map(r => (r.getString(0), r.getSeq[String](1).toArray, r.getLong(2)))

  /** `docs`' columns with one row per BPE word `w` of `textCol`. */
  private def bpeWords(docs: DataFrame, textCol: String): DataFrame =
    docs.withColumn("w", explode(split(col(textCol), " ")))
      .filter(length(col("w")) > 0 && !col("w").contains("|"))

  /** One greedy left-to-right merge pass of pair (a, b) over a word's
    * tokens — BPE's within-run pairing: "a a a" under (a, a) becomes
    * "aa a", never "a aa". Training and [[bpeApply]] share it.
    */
  private def bpeFold(toks: Array[String], a: String, b: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < toks.length) {
      if (i + 1 < toks.length && toks(i) == a && toks(i + 1) == b) {
        out += a + b; i += 2
      } else { out += toks(i); i += 1 }
    }
    out.result()
  }

  /** Applies a learned merge list ([[bpeMerges]] output order) to
    * re-tokenize a corpus: the merges fold over the collected distinct
    * word table on the driver ([[bpeFold]], training's fold), and only the
    * per-word token COUNT joins back to the corpus word stream as a small
    * local frame (no hint — AQE decides whether to broadcast it). Output
    * per doc: (id, n_words, n_bpe_toks) — the compression a tokenizer
    * buyer cares about, computed without materializing a single tokenized
    * document. Bounds as [[bpeMerges]], with steps = `merges.length`.
    */
  def bpeApply(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val wtoks = docs.sparkSession.createDataFrame(bpeVocabulary(docs, textCol).toSeq.map {
      case (w, toks, _) => (w, merges.foldLeft(toks) { case (t, (a, b)) => bpeFold(t, a, b) }.length)
    }).toDF("w", "n_bpe")
    bpeWords(docs.select(col(idCol).as("id"), col(textCol)), textCol)
      .join(wtoks, Seq("w"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_words"), sum(col("n_bpe")).as("n_bpe_toks"))
  }
}
