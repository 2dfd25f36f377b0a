package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** N-gram language-model perplexity scoring — the classic
  * quality-filter stage of large-scale training-data pipelines (CCNet
  * and its descendants score every document against a reference LM and
  * keep the low-perplexity head; the reference corpus-engine has no
  * analogue, this is pipeline surface beyond it).
  *
  * The model is a word-bigram LM with Stupid Backoff smoothing
  * (Brants et al. 2007, "Large Language Models in Machine
  * Translation"): no discounting, a fixed backoff factor, counts used
  * raw — the published choice for web-scale counts precisely because
  * training stays one distributed count pass.
  *
  * Scale shape:
  *  - training touches the corpus twice (unigram pass, bigram pass),
  *    each a narrow explode + map-side-combined `groupBy` count — the
  *    same shape as [[TextAnalysis.trainBpe]]'s word-count pass;
  *  - the MODEL is vocabulary-bounded, not corpus-bounded: the
  *    `minUnigram` / `minBigram` frequency floors cut the long tail
  *    (at 100 TB the raw bigram table is what explodes; the floor is
  *    the published mitigation). The cut is NOT silent: kept/dropped
  *    row counts are logged;
  *  - scoring is one explode + two broadcast joins against the model
  *    + one map-side-combined re-aggregation by doc — the corpus
  *    never shuffles by anything except doc_id partial sums. For
  *    models too large to broadcast, drop the hint and AQE picks a
  *    shuffle join; the semantics don't change.
  *
  * Determinism: probabilities are exact count ratios; every formula
  * below is replayed verbatim by the DuckDB oracle
  * (`text_perplexity`), so scores are value-exact, not approximate.
  */
object NgramLm {

  /** Unicode word tokens of lowercased text; identical to DuckDB's
    * `list_filter(string_split_regex(lower(t), '[^\p{L}\p{N}]+'), ...)`
    * (Java and RE2 agree on the \p{L}/\p{N} classes).
    *
    * Built on the native [[graft.functions.Tokens]] kernel (direct
    * character-class checks) instead of the `java.util.regex` NFA the
    * `split` expression walks per document — the LM passes tokenize
    * the corpus 3-4 times per train+score, and the regex walk was the
    * dominant per-task cost (guide §4; r20 verdict item 3). Rows are
    * identical (TokensSpec pins kernel == expression). */
  def lmTokens(text: Column): Column = graft.functions.Tokens(lower(text))

  /** Adjacent-pair structs (pw, w) of the token array — derived with
    * narrow array ops (slice + zip_with), no per-doc window shuffle.
    * `once` binds the token array so the regex tokenization runs one
    * time per row, not once per slice/size reference. */
  private def pairCol(tk: Column): Column =
    TextAnalysis.once(tk) { t =>
      val m = greatest(size(t) - 1, lit(0))
      zip_with(slice(t, lit(1), m), slice(t, lit(2), m),
        (a, b) => struct(a.as("pw"), b.as("w")))
    }

  /** A trained bigram LM: `unigrams` (w, cw) with `cw >= minUnigram`,
    * `bigrams` (pw, w, cb) with `cb >= minBigram`, and the UNCUT total
    * token count `totalTokens` (the unigram normalizer — cut mass
    * still normalizes, as in the published formulation). */
  case class BigramLm(unigrams: DataFrame, bigrams: DataFrame, totalTokens: Long)

  /** One distributed count pass per order; model tables persisted
    * (they are re-joined twice in scoring). `minBigram >= minUnigram`
    * is required: it guarantees every bigram's left word survives the
    * unigram cut (count(pw) >= count(pw,w)), so the conditional
    * probability's denominator always resolves. */
  def trainBigramLm(df: DataFrame, textCol: String, minUnigram: Long = 2L,
      minBigram: Long = 3L): BigramLm = {
    require(minBigram >= minUnigram,
      s"minBigram ($minBigram) must be >= minUnigram ($minUnigram)")
    val tk = lmTokens(col(textCol))
    val uniAll = df.select(explode(tk).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = uniAll.agg(sum(col("cw")), count(lit(1))).head()
    val (total, vocabAll) = (stats.getLong(0), stats.getLong(1))
    val uni = uniAll.filter(col("cw") >= minUnigram)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val big = df.select(explode(pairCol(tk)).as("p"))
      .select(col("p.pw").as("pw"), col("p.w").as("w"))
      .groupBy("pw", "w").agg(count(lit(1)).as("cb"))
      .filter(col("cb") >= minBigram)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (nUni, nBig) = (uni.count(), big.count())
    uniAll.unpersist()
    org.slf4j.LoggerFactory.getLogger(getClass).info(
      s"trainBigramLm: $total tokens, $vocabAll distinct words -> kept " +
        s"$nUni unigrams (>=$minUnigram), $nBig bigrams (>=$minBigram)")
    BigramLm(uni, big, total)
  }

  /** Stupid Backoff score per document over positions 2..n:
    *   P(w | pw) = cb(pw, w) / cw(pw)        when the bigram is in the model
    *             = alpha * P1(w)             otherwise
    *   P1(w)     = (cw(w) if kept else 0.1) / totalTokens
    * Output: (idCol, n_scored, avg_logp, ppl) with
    * avg_logp = mean log10 P and ppl = 10^(-avg_logp), both rounded
    * to 6 decimals; documents with fewer than two tokens have no
    * scored positions and are omitted. */
  def perplexity(df: DataFrame, idCol: String, textCol: String,
      lm: BigramLm, alpha: Double = 0.4): DataFrame = {
    val d = DoubleType
    val pairs = df
      .select(col(idCol), explode(pairCol(lmTokens(col(textCol)))).as("p"))
      .select(col(idCol), col("p.pw").as("pw"), col("p.w").as("w"))
    val scored = pairs
      .join(broadcast(lm.bigrams), Seq("pw", "w"), "left")
      .join(broadcast(lm.unigrams.select(col("w").as("pw"), col("cw").as("cp"))),
        Seq("pw"), "left")
      .join(broadcast(lm.unigrams.select(col("w"), col("cw").as("cu"))),
        Seq("w"), "left")
      .withColumn("lp",
        when(col("cb").isNotNull, log10(col("cb").cast(d) / col("cp").cast(d)))
          .otherwise(log10(lit(alpha) * coalesce(col("cu").cast(d), lit(0.1))
            / lit(lm.totalTokens.toDouble))))
    scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_scored"), avg(col("lp")).as("a"))
      .select(col(idCol), col("n_scored"),
        round(col("a"), 6).as("avg_logp"),
        round(pow(lit(10.0), -col("a")), 6).as("ppl"))
  }

  /** Top-n corpus collocations by pointwise mutual information — the
    * standard phrase/tokenizer-vocabulary mining op:
    *   pmi(a, b) = log10( (cb/Nb) / ((ca/Nu) * (cb_w/Nu)) )
    * over the SAME floored count tables a [[trainBigramLm]] pass
    * produces (the floors are what keep the bigram table
    * vocabulary-bounded at corpus scale — and low-count bigrams have
    * garbage PMI anyway, the published reason every collocation
    * pipeline floors first). Nb = total scoring positions
    * (sum of per-doc max(tokens-1, 0)), Nu = total tokens.
    *
    * Output: (pw, w, cb, pmi) — the global top-n by (6-decimal pmi
    * desc, pw asc, w asc), via orderBy+limit (TakeOrderedAndProject:
    * per-partition bounded heaps, driver merge of n rows — no global
    * sort materializes). */
  def pmiCollocations(df: DataFrame, textCol: String, n: Int = 50,
      minUnigram: Long = 2L, minBigram: Long = 3L): DataFrame = {
    val lm = trainBigramLm(df, textCol, minUnigram, minBigram)
    val nB = Option(df.select(
        greatest(size(lmTokens(col(textCol))) - 1, lit(0)).cast("long").as("m"))
      .agg(sum(col("m"))).head().get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
    val nU = lm.totalTokens
    val ca = lm.unigrams.select(col("w").as("pw"), col("cw").as("__ca"))
    val cw = lm.unigrams.select(col("w"), col("cw").as("__cw"))
    lm.bigrams
      .join(ca, "pw").join(cw, "w")
      .select(col("pw"), col("w"), col("cb"),
        round(log10((col("cb").cast("double") / lit(nB.toDouble)) /
          ((col("__ca").cast("double") / lit(nU.toDouble)) *
            (col("__cw").cast("double") / lit(nU.toDouble)))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("pw"), col("w"))
      .limit(n)
  }
}
