package graft.text

import graft.operators.Ckpt.CkptOps
import graft.operators.Iterate
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting. All pure
  * column expressions (codegen'd, shuffle-free per-row) with exact DuckDB
  * oracle equivalents.
  */
object TextAnalysis {

  /** Per-language stopword marker sets for the n-gram/stopword-ratio
    * language heuristic. Tiny on purpose: the id is argmax of marker-hit
    * ratio, deterministic tie-break by language code order. */
  val Stopwords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "es", "en", "un"),
    "fr" -> Seq("le", "la", "les", "et", "est", "que", "un", "une"),
    "zh" -> Seq("de", "shi", "le", "zai", "you", "wo", "ta", "men"))

  /** Stopword-hit ratio for one language: |tokens ∩ markers| / |tokens|
    * (distinct-token semantics, matching `array_intersect`). */
  def langScore(toks: Column, markers: Seq[String]): Column =
    when(size(toks) === 0, 0.0).otherwise(
      size(array_intersect(toks, typedLit(markers))).cast("double") /
        size(array_distinct(toks)).cast("double"))

  /** Argmax language with deterministic tie-break (first in code order
    * wins); "und" (undetermined) when no marker hits at all.
    * Tokens and the score vector are let-bound (TextFunctions.bind) so
    * the regex split runs once per row, not once per CASE arm. */
  def langId(textCol: Column): Column =
    TextFunctions.bind(TextFunctions.tokens(textCol), toks =>
      TextFunctions.bind(
        array(Stopwords.map { case (_, mk) => langScore(toks, mk) }: _*),
        ss => {
          val best = array_max(ss)
          Stopwords.map(_._1).zipWithIndex
            .foldLeft(when(best <= 0.0, lit("und"))) {
              case (acc, (lang, i)) =>
                acc.when(element_at(ss, i + 1) === best, lit(lang))
            }.otherwise(lit("und"))
        }))

  /** Heuristic quality score in [0,1]: weighted mix of length fitness,
    * alphanumeric density, punctuation restraint and mean word length
    * fitness. Deterministic, documented, and reproduced verbatim in the
    * DuckDB oracle (SparkEntry.oracleSql). */
  def qualityScore(textCol: Column): Column =
    TextFunctions.bind(
      array(length(textCol).cast("double"),
        length(regexp_replace(textCol, "[^A-Za-z0-9]", "")).cast("double"),
        length(regexp_replace(textCol, "[^.,;:!?]", "")).cast("double"),
        TextFunctions.tokenCount(textCol).cast("double")),
      m => {
        val len      = element_at(m, 1)
        val alnum    = element_at(m, 2)
        val punct    = element_at(m, 3)
        val nTok     = element_at(m, 4)
        val lenFit   = least(len / 200.0, lit(1.0))             // reward ≥200 chars
        val alnumR   = when(len === 0, 0.0).otherwise(alnum / len)
        val punctOk  = when(len === 0, 0.0)
          .otherwise(lit(1.0) - least(punct / greatest(nTok, lit(1.0)), lit(1.0)))
        val meanWl   = when(nTok === 0, 0.0).otherwise(alnum / nTok)
        val wlFit    = lit(1.0) - least(abs(meanWl - 5.0) / 5.0, lit(1.0))
        round(lit(0.25) * lenFit + lit(0.25) * alnumR +
          lit(0.25) * punctOk + lit(0.25) * wlFit, 6)
      })

  /** Rolling-hash document fingerprint: minimum 60-bit md5 hash over
    * 8-char sliding windows of the normalized text (MinHash-of-char-
    * shingles; robust to word reordering at the edges, cheap to compare).
    * Docs shorter than 8 chars fall back to the hash of the whole text. */
  def fingerprint(textCol: Column): Column =
    TextFunctions.bind(lower(regexp_replace(textCol, "\\s+", " ")), norm =>
      when(length(norm) < 8, TextFunctions.md5Long(norm))
        .otherwise(array_min(transform(sequence(lit(1), length(norm) - 7),
          i => TextFunctions.md5Long(norm.substr(i, lit(8)))))))

  /** Robust-winnowing fingerprint set (Schleimer, Wilkerson & Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD'03): 60-bit hashes of k-char shingles over the normalized
    * text; every window of w consecutive shingle hashes selects its
    * minimum; the distinct selected values are the document's
    * fingerprints. Any shared substring of length >= w + k - 1 between
    * two documents is guaranteed to share a fingerprint, at expected
    * density 2/(w+1) — the standard plagiarism/near-dup sketch when a
    * fixed-size MinHash signature is too coarse. Pure per-row array
    * algebra: codegen'd, shuffle-free, no UDF. */
  def winnowFingerprints(textCol: Column, k: Int = 8, w: Int = 4): Column =
    org.apache.spark.sql.graftext.WinnowExpr.winnow(
      lower(regexp_replace(textCol, "\\s+", " ")), k, w)

  /** The HOF formulation [[winnowFingerprints]] replaced (kept for the
    * equivalence spec): same values, but ~(len·w) interpreted lambda
    * dispatches per row where the native expression runs one loop. */
  private[graft] def winnowFingerprintsHof(textCol: Column, k: Int = 8,
      w: Int = 4): Column =
    TextFunctions.bind(lower(regexp_replace(textCol, "\\s+", " ")), norm =>
      TextFunctions.bind(
        when(length(norm) < k, array(TextFunctions.md5Long(norm)))
          .otherwise(transform(sequence(lit(1), length(norm) - (k - 1)),
            i => TextFunctions.md5Long(norm.substr(i, lit(k))))),
        hs => when(size(hs) < w, array(array_min(hs)))
          .otherwise(array_distinct(
            transform(sequence(lit(1), size(hs) - (w - 1)),
              i => array_min(slice(hs, i, lit(w))))))))

  /** Character-level Shannon entropy of the normalized text, in nats.
    * Low entropy flags repetitive / template / gibberish docs — a
    * standard cheap quality signal next to [[qualityScore]]. The fold
    * runs over the doc's distinct characters (first-occurrence order,
    * deterministic), with p from a count over the full char array. */
  def charEntropy(textCol: Column): Column =
    TextFunctions.bind(lower(regexp_replace(textCol, "\\s+", " ")), norm =>
      when(length(norm) === 0, lit(0.0)).otherwise(
        TextFunctions.bind(transform(sequence(lit(1), length(norm)),
            i => norm.substr(i, lit(1))), chars =>
          round(-aggregate(array_distinct(chars), lit(0.0), (acc, ch) =>
            acc + TextFunctions.bind(
              size(filter(chars, c => c === ch)).cast("double") /
                size(chars).cast("double"),
              p => p * log(p))), 6))))

  /** Gopher stopword set (Rae et al. 2021 §A1.1) for the ≥2-stopwords
    * presence rule. */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style document-quality rule metrics (Rae et al. 2021 §A1.1),
    * the standard pre-training document filter: word count within
    * [50, 100000], mean word length within [3, 10], fraction of words
    * containing an alphabetic character ≥ 0.8, and at least 2 of the 8
    * canonical stopwords present. (The line-shape rules — bullet /
    * ellipsis line fractions — are meaningless on a corpus with no
    * newlines and are intentionally omitted; see q53 for the repetition
    * family.) Returns per-doc metrics plus 0/1 flags per rule and the
    * conjunction `pass_gopher`. Pure codegen'd column algebra — no
    * shuffle, so at 100 TB this is a free rider on any corpus scan.
    * Flags are computed FROM the 6-dp-rounded ratios so the DuckDB
    * oracle can reproduce every boundary decision exactly. */
  /** Cross-corpus n-gram novelty: the fraction of a document's DISTINCT
    * n-token shingles that occur in NO other document — the commonness
    * complement of contamination (q188 scores overlap with a known
    * benchmark; novelty scores overlap with the rest of the corpus
    * itself). Low novelty marks boilerplate/templated docs that slip
    * past exact and near-dup detection because no single pair crosses
    * the similarity threshold.
    *
    * Scale shape: the dedup family's standard — explode distinct
    * shingles, one partial-aggregated groupBy on the shingle for the
    * document frequency, hash-join back, per-doc rollup. Shuffles by
    * shingle hash (uniform), never collects, no windows. */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    val sh = docs.select(col(idCol).as("doc_id"),
      explode(array_distinct(TextFunctions.shingles(
        TextFunctions.tokens(col(textCol)), n))).as("sh"))
    val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    val per = sh.join(dfreq, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
    docs.select(col(idCol).as("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        round(when(coalesce(col("n_shingles"), lit(0L)) === 0, 0.0)
          .otherwise(col("n_unique").cast("double") /
            col("n_shingles").cast("double")), 6).as("novelty"))
  }

  def gopherMetrics(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), TextFunctions.tokens(col(textCol)).as("__tk"))
      .select(col(idCol),
        size(col("__tk")).cast("long").as("n_words"),
        when(size(col("__tk")) === 0, 0.0).otherwise(
          round(aggregate(col("__tk"), lit(0L), (acc, t) => acc + length(t))
            .cast("double") / size(col("__tk")), 6)).as("mean_word_len"),
        when(size(col("__tk")) === 0, 0.0).otherwise(
          round(size(filter(col("__tk"), t => t.rlike("[a-z]")))
            .cast("double") / size(col("__tk")), 6)).as("alpha_frac"),
        size(array_intersect(array_distinct(col("__tk")),
          typedLit(GopherStopwords))).cast("long").as("n_stop"))
      .select(col(idCol), col("n_words"), col("mean_word_len"),
        col("alpha_frac"), col("n_stop"),
        when(col("n_words").between(50L, 100000L), 1).otherwise(0)
          .as("pass_words"),
        when(col("mean_word_len").between(3.0, 10.0), 1).otherwise(0)
          .as("pass_word_len"),
        when(col("alpha_frac") >= 0.8, 1).otherwise(0).as("pass_alpha"),
        when(col("n_stop") >= 2L, 1).otherwise(0).as("pass_stop"))
      .withColumn("pass_gopher",
        col("pass_words") * col("pass_word_len") *
          col("pass_alpha") * col("pass_stop"))

  /** Pointwise mutual information over in-document term co-occurrence:
    * pmi(a, b) = ln(c_ab * N / (c_a * c_b)) with document-level counts
    * (c_x = docs containing x, c_ab = docs containing both, N = docs).
    * The phrase-/collocation-mining primitive. Pair generation is
    * per-document combinations over the doc's sorted distinct terms —
    * work bounded by doc vocabulary squared, never a corpus self-join
    * (the same shape as the dedup pair generators); marginals are a
    * vocabulary-scale broadcast. */
  def pmiPairs(docs: DataFrame, idCol: String, textCol: String,
      minPairCount: Long = 2L): DataFrame = {
    val terms = docs.select(col(idCol).as("doc_id"),
      array_sort(array_distinct(TextFunctions.tokens(col(textCol))))
        .as("ts"))
    val pairs = terms.select(explode(flatten(
        transform(col("ts"), (x, i) =>
          transform(slice(col("ts"), i + 2, size(col("ts"))),
            y => struct(x.as("a"), y.as("b")))))).as("p"))
      .select(col("p.a"), col("p.b"))
    val cab = pairs.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minPairCount)
    val marg = terms.select(explode(col("ts")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
    val n = docs.agg(count(lit(1)).as("n"))
    cab
      .join(broadcast(marg.select(col("t").as("a"), col("c").as("c_a"))), "a")
      .join(broadcast(marg.select(col("t").as("b"), col("c").as("c_b"))), "b")
      .crossJoin(broadcast(n))
      .select(col("a"), col("b"), col("c_ab"),
        round(log((col("c_ab") * col("n")) / (col("c_a") * col("c_b"))), 6)
          .as("pmi"))
  }

  /** Dunning log-likelihood-ratio (G², Dunning 1993) collocations over
    * ADJACENT bigrams — the statistically-sound complement to [[pmiPairs]]
    * (PMI over-rewards rare pairs; G² weighs evidence mass, so frequent
    * genuine collocations rank first). All four contingency cells are
    * integer-exact bigram counts; G² is one deterministic double
    * expression per surviving pair (vocabulary-scale frame), marginals
    * broadcast. Uses the entropy (x·ln x) form, with 0·ln 0 = 0. */
  def llrBigrams(docs: DataFrame, textCol: String, minCount: Long = 5L)
      : DataFrame = {
    val toks = docs.select(TextFunctions.tokens(col(textCol)).as("l"))
      .filter(size(col("l")) >= 2)
    val bg = toks.select(explode(zip_with(
        slice(col("l"), lit(1), size(col("l")) - 1),
        slice(col("l"), lit(2), size(col("l")) - 1),
        (x, y) => struct(x.as("w1"), y.as("w2")))).as("p"))
      .select(col("p.w1"), col("p.w2"))
    val c12 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minCount)
    val m1 = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
    val m2 = bg.groupBy("w2").agg(count(lit(1)).as("c2"))
    val nTot = bg.agg(count(lit(1)).as("n"))

    def xlx(k: Column) = when(k > 0L,
      k.cast("double") * log(k.cast("double"))).otherwise(lit(0.0))

    val k11 = col("c12")
    val k12 = col("c1") - col("c12")
    val k21 = col("c2") - col("c12")
    val k22 = col("n") - col("c1") - col("c2") + col("c12")
    c12
      .join(broadcast(m1), "w1")
      .join(broadcast(m2), "w2")
      .crossJoin(broadcast(nTot))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        round(lit(2.0) * (xlx(k11) + xlx(k12) + xlx(k21) + xlx(k22)
          - xlx(col("c1")) - xlx(col("n") - col("c1"))
          - xlx(col("c2")) - xlx(col("n") - col("c2"))
          + xlx(col("n"))), 6).as("g2"))
  }

  /** Heaps'-law fit (vocabulary growth V = k·Nᵝ) over nested
    * hash-defined corpus subsets — [[zipfSlope]]'s companion corpus
    * health check: natural text grows β ≈ 0.4–0.6; template/generated
    * corpora saturate (small β), high-noise corpora approach 1.
    *
    * Subsets are md5-prefix nested (level L keeps docs with
    * hash % 2^L = 0, expected fraction 2⁻ᴸ) — deterministic, no RNG,
    * and the union of all levels costs < 2× one corpus scan. Each
    * level yields exact (token, type) counts; the log–log OLS runs on
    * the `levels`-row frame with 9-dp decimal term sums. Returns one
    * row (n_points, n_tokens_full, n_types_full, heaps_beta, heaps_k,
    * r2). */
  def heapsLaw(docs: DataFrame, textCol: String, idCol: String,
      levels: Int = 6): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(levels >= 2)
    val hash = conv(substring(md5(col(idCol).cast("string")), 1, 15),
      16, 10).cast("long")
    val toks = docs
      .select(hash.as("h"), explode(TextFunctions.tokens(col(textCol)))
        .as("tok"))
      .select(col("h"), col("tok"),
        explode(array((0 until levels).map(l =>
          struct(lit(l).as("lev"), lit(1L << l).as("m"))): _*)).as("lm"))
      .filter(col("h") % col("lm.m") === 0L)
      .select(col("lm.lev").as("lev"), col("tok"))
    val pts = toks.groupBy("lev")
      .agg(count(lit(1)).as("nTok"),
        count_distinct(col("tok")).as("nTyp"))
      .select(col("lev"), col("nTok"), col("nTyp"),
        log(col("nTok").cast("double")).as("x"),
        log(col("nTyp").cast("double")).as("y"))
    def t9(c: org.apache.spark.sql.Column) =
      round(c, 9).cast(DecimalType(28, 9))
    val m = pts.agg(count(lit(1)).cast("double").as("np"),
      sum(t9(col("x"))).cast("double").as("sx"),
      sum(t9(col("y"))).cast("double").as("sy"),
      sum(t9(col("x") * col("y"))).cast("double").as("sxy"),
      sum(t9(col("x") * col("x"))).cast("double").as("sxx"),
      sum(t9(col("y") * col("y"))).cast("double").as("syy"),
      max(when(col("lev") === 0, col("nTok"))).as("n_tokens_full"),
      max(when(col("lev") === 0, col("nTyp"))).as("n_types_full"))
    val beta = (col("sxy") - col("sx") * col("sy") / col("np")) /
      (col("sxx") - col("sx") * col("sx") / col("np"))
    val r2num = (col("sxy") - col("sx") * col("sy") / col("np")) *
      (col("sxy") - col("sx") * col("sy") / col("np"))
    val r2den = (col("sxx") - col("sx") * col("sx") / col("np")) *
      (col("syy") - col("sy") * col("sy") / col("np"))
    m.select(col("np").cast("long").as("n_points"),
      col("n_tokens_full"), col("n_types_full"),
      round(beta, 6).as("heaps_beta"),
      round(exp(col("sy") / col("np") - beta * (col("sx") / col("np"))), 6)
        .as("heaps_k"),
      round(r2num / r2den, 6).as("r2"))
  }

  /** Zipf rank–frequency fit: least-squares slope of ln(freq) on
    * ln(rank) over the corpus term-frequency table — the classic corpus
    * health check (natural text ≈ -1; template/generated text drifts).
    * The regression runs over the vocabulary (metadata-scale), so the
    * driver-side window for ranking is deliberate, not a scale bug. */
  def zipfSlope(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("freq"))
    freq
      .withColumn("rank",
        row_number().over(Window.orderBy(col("freq").desc, col("t").asc)))
      .agg(count(lit(1)).as("n_terms"),
        round(covar_pop(log(col("freq")), log(col("rank"))) /
          var_pop(log(col("rank"))), 6).as("zipf_slope"))
  }

  /** Interpolated bigram language-model perplexity — the KenLM/CCNet
    * quality-filter shape (CCNet, Wenzek et al. 2020 scores every doc
    * with an LM and drops the high-perplexity tail): fit the LM on the
    * corpus itself, score every doc by
    * `ppl = exp(-avg ln p(w_i | w_{i-1}))` over its bigram events, with
    * `p = λ·c₂(u,v)/c₁ᶜᵗˣ(u) + (1-λ)·c₁(v)/N` (MLE bigram interpolated
    * with the unigram — the standard smoothing that keeps every event
    * finite without external model state).
    *
    * Scale shape: the MODEL is aggregate state — two partial-aggregated
    * groupBys (unigram counts: vocabulary-scale; bigram counts: distinct-
    * bigram-scale, sparse). Bigram events come from per-row array algebra
    * (no self-join, no window); scoring joins events against the count
    * relations — AQE broadcasts them when they fit and skew-splits the
    * hot-term keys when they don't. The corpus is scanned twice (fit,
    * score); nothing collects. Docs with fewer than 2 tokens have no
    * bigram events and drop out, as in the SQL formulation. */
  def bigramPerplexity(docs: DataFrame, idCol: String, textCol: String,
      lambda: Double = 0.75): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      TextFunctions.tokens(col(textCol)).as("l"))
    val tok = toks.select(col("doc_id"), explode(col("l")).as("t"))
    val c1 = tok.groupBy("t").agg(count(lit(1)).cast("double").as("c1"))
    val n = tok.agg(count(lit(1)).cast("double").as("n"))
    // bigram events per row: (l[i-1], l[i]) for i in 1..len-1 — pure
    // array algebra, all subscripts in range (ANSI-safe)
    val bi = toks.filter(size(col("l")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(l) - 1), " +
          "i -> struct(l[i - 1] AS u, l[i] AS v))")).as("p"))
      .select(col("doc_id"), col("p.u").as("u"), col("p.v").as("v"))
    val c2 = bi.groupBy("u", "v")
      .agg(count(lit(1)).cast("double").as("c2"))
    val cctx = bi.groupBy("u").agg(count(lit(1)).cast("double").as("cu"))
    val lp = lit(lambda) * col("c2") / col("cu") +
      lit(1.0 - lambda) * col("c1v") / col("n")
    bi.join(c2, Seq("u", "v"))
      .join(cctx, Seq("u"))
      .join(c1.select(col("t").as("v"), col("c1").as("c1v")), Seq("v"))
      .crossJoin(broadcast(n))
      .select(col("doc_id"), log(lp).as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), avg("lp").as("alp"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("alp"), 6).as("avg_logprob"),
        round(exp(-col("alp")), 6).as("ppl"))
  }

  /** Interpolated Kneser–Ney bigram scoring (Kneser & Ney 1995; Chen
    * & Goodman 1998's benchmark smoother) — the third LM
    * quality-filter flavor beside [[bigramPerplexity]]'s MLE
    * interpolation and [[stupidBackoffScore]]'s backoff: absolute
    * discounting of the observed bigram plus the CONTINUATION
    * probability, which scores a word by how many distinct contexts
    * it follows rather than how often it occurs —
    *
    *   p(v|u) = (c(u,v) − D)/c(u·) + D·N1+(u·)/c(u·) · N1+(·v)/N1+(··)
    *
    * Fit on the corpus itself, every scored event is observed
    * (c(u,v) ≥ 1), so the max(·−D, 0) never clips and every log is
    * finite. The model is aggregate state: sparse bigram counts, one
    * per-context groupBy (token total + distinct successors), and the
    * bigram-TYPE relation (distinct-predecessor counts + type total —
    * q332's continuation statistic, here doing its actual LM job).
    * Scoring joins are vocabulary-scale — AQE broadcasts them when
    * they fit and skew-splits hot terms when they don't. Per-event ln
    * terms are identical doubles 9-dp DECIMAL-summed (order-free);
    * docs under 2 tokens drop, as in the SQL formulation.
    * Returns (doc_id, n_bigrams, avg_logprob, ppl) by doc_id. */
  def knBigramScore(docs: DataFrame, idCol: String, textCol: String,
      discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0)
    val d289 = org.apache.spark.sql.types.DecimalType(28, 9)
    val toks = docs.select(col(idCol).as("doc_id"),
      TextFunctions.tokens(col(textCol)).as("l"))
    val bi = toks.filter(size(col("l")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(l) - 1), " +
          "i -> struct(l[i - 1] AS u, l[i] AS v))")).as("p"))
      .select(col("doc_id"), col("p.u").as("u"), col("p.v").as("v"))
      .graftCheckpoint(false) // model fit and scoring share the events
    // ONE corpus-scale aggregation; every other model relation derives
    // from the sparse bigram-count table (cu = Σc2 is a double sum of
    // exact small integers — identical to recounting the corpus; n1u,
    // cont and tt are row counts of c2, i.e. the TYPE statistics)
    val c2 = bi.groupBy("u", "v")
      .agg(count(lit(1)).cast("double").as("c2"))
      .graftCheckpoint(false) // ctx, cont, tt and the scoring join
    val ctx = c2.groupBy("u")
      .agg(sum(col("c2")).as("cu"),
        count(lit(1)).cast("double").as("n1u"))
    val cont = c2.groupBy("v")
      .agg(count(lit(1)).cast("double").as("cv"))
    val tt = broadcast(c2.agg(count(lit(1)).cast("double").as("tt")))
    val p = (col("c2") - lit(discount)) / col("cu") +
      lit(discount) * col("n1u") / col("cu") * (col("cv") / col("tt"))
    bi.join(c2, Seq("u", "v"))
      .join(ctx, Seq("u"))
      .join(cont, Seq("v"))
      .crossJoin(tt)
      .select(col("doc_id"), round(log(p), 9).cast(d289).as("__lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__lp")).as("__s"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("__s").cast("double")
          / col("n_bigrams").cast("double"), 6).as("avg_logprob"),
        round(exp(-(col("__s").cast("double")
          / col("n_bigrams").cast("double"))), 6).as("ppl"))
      .orderBy("doc_id")
  }

  /** Trigram stupid-backoff scoring (Brants et al. 2007) on a
    * HOLDOUT: fit n-gram counts on the `fitCol` slice, score the
    * complement — the CCNet quality-filter shape where backoff
    * actually fires (self-scoring never backs off, every event is in
    * its own model). Per event:
    * s = c₃/c₂(u,v), else 0.4·c₂(v,w)/c₁(v), else 0.4²·c₁(w)/N,
    * else 0.4²/N (OOV floor — keeps every log finite). The model IS
    * aggregate state (three sparse partial-agg count relations);
    * scoring is four left joins AQE broadcasts/skew-splits. Per-doc
    * ln-score terms are identical doubles 9-dp DECIMAL-summed.
    * Returns (doc_id, n_events, n_backoff, avg_logscore) for scored
    * docs with ≥ 3 tokens, ordered by doc_id — high backoff rate +
    * low avg_logscore = out-of-domain text. */
  def stupidBackoffScore(docs: DataFrame, idCol: String,
      textCol: String, fitCol: Column): DataFrame = {
    val d289 = org.apache.spark.sql.types.DecimalType(28, 9)
    val toks = docs.select(col(idCol).as("doc_id"), fitCol.as("fit"),
      TextFunctions.tokens(col(textCol)).as("l"))
    val fit = toks.filter(col("fit"))
    val c1 = fit.select(explode(col("l")).as("t"))
      .groupBy("t").agg(count(lit(1)).cast("double").as("c1"))
    val n = broadcast(fit.select(explode(col("l")).as("t"))
      .agg(count(lit(1)).cast("double").as("n")))
    val c2 = fit.filter(size(col("l")) >= 2)
      .select(explode(expr("transform(sequence(1, size(l) - 1), " +
        "i -> struct(l[i - 1] AS u, l[i] AS v))")).as("p"))
      .groupBy(col("p.u").as("u"), col("p.v").as("v"))
      .agg(count(lit(1)).cast("double").as("c2"))
    val c3 = fit.filter(size(col("l")) >= 3)
      .select(explode(expr("transform(sequence(2, size(l) - 1), " +
        "i -> struct(l[i - 2] AS u, l[i - 1] AS v, l[i] AS w))"))
        .as("p"))
      .groupBy(col("p.u").as("u"), col("p.v").as("v"),
        col("p.w").as("w"))
      .agg(count(lit(1)).cast("double").as("c3"))
    val ev = toks.filter(!col("fit") && size(col("l")) >= 3)
      .select(col("doc_id"),
        explode(expr("transform(sequence(2, size(l) - 1), " +
          "i -> struct(l[i - 2] AS u, l[i - 1] AS v, l[i] AS w))"))
          .as("p"))
      .select(col("doc_id"), col("p.u").as("u"), col("p.v").as("v"),
        col("p.w").as("w"))
    val joined = ev
      .join(c3, Seq("u", "v", "w"), "left")
      .join(c2.select(col("u"), col("v"), col("c2").as("c2uv")),
        Seq("u", "v"), "left")
      .join(c2.select(col("u").as("v"), col("v").as("w"),
        col("c2").as("c2vw")), Seq("v", "w"), "left")
      .join(c1.select(col("t").as("v"), col("c1").as("c1v")),
        Seq("v"), "left")
      .join(c1.select(col("t").as("w"), col("c1").as("c1w")),
        Seq("w"), "left")
      .crossJoin(n)
    val s = when(col("c3").isNotNull, col("c3") / col("c2uv"))
      .otherwise(lit(0.4) *
        when(col("c2vw").isNotNull, col("c2vw") / col("c1v"))
          .otherwise(lit(0.4) *
            when(col("c1w").isNotNull, col("c1w") / col("n"))
              .otherwise(lit(1.0) / col("n"))))
    joined
      .select(col("doc_id"),
        round(log(s), 9).cast(d289).as("__lp"),
        when(col("c3").isNull, 1L).otherwise(0L).as("__bo"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_events"), sum(col("__bo")).as("n_backoff"),
        sum(col("__lp")).as("__s"))
      .select(col("doc_id"), col("n_events"), col("n_backoff"),
        round(col("__s").cast("double")
          / col("n_events").cast("double"), 6).as("avg_logscore"))
      .orderBy("doc_id")
  }

  /** TextRank (Mihalcea & Tarau 2004): PageRank over the corpus word
    * co-occurrence graph — nodes are tokens, undirected edges are
    * adjacent-token pairs weighted by corpus-wide count — the classic
    * unsupervised keyword extractor. Fixed `iters` damped power
    * iterations; each is one join + one partial-agg groupBy keyed on the
    * node (the Pregel shape q60's label propagation already uses). The
    * node/edge relations are VOCABULARY-sized, not corpus-sized, so at
    * 100 TB the iteration cost is independent of document count once the
    * edge counts are aggregated. Per-iteration `round(·, 9)` pins the
    * float-sum association so the DuckDB oracle lands on identical
    * ranks. Returns (token, pr) rounded to 6 dp; the caller ranks.
    *
    * Self-loops ("batch batch") are kept: both engines agree, and the
    * damped walk still converges. Every node has in-edges because the
    * edge set is symmetric. */
  def textRank(docs: DataFrame, idCol: String, textCol: String,
      damping: Double = 0.85, iters: Int = 5): DataFrame = {
    val sh2 = docs
      .select(explode(TextFunctions.shingles(
        TextFunctions.tokens(col(textCol)), 2)).as("sh"))
      .select(split(col("sh"), " ").getItem(0).as("src"),
        split(col("sh"), " ").getItem(1).as("dst"))
    val edges = sh2
      .unionAll(sh2.select(col("dst").as("src"), col("src").as("dst")))
      .groupBy("src", "dst").agg(count(lit(1)).cast("long").as("w"))
    val outw = edges.groupBy("src").agg(sum("w").as("ow"))
    // ONE cached copy of the per-round edge relation, partitioned by
    // the per-round join key. Without it each unrolled iteration (and
    // each per-round broadcast of the node count) re-embedded the whole
    // edge lineage — 2 corpus scans per reference, 34 document scans /
    // 324 operators in the q140 plan.
    Iterate.cached(edges.join(outw, "src")
        .select(col("src"), col("dst"),
          (col("w").cast("double") / col("ow").cast("double")).as("wn"))
        .repartition(col("src"))) { en =>
      // en is inner-joined on src against outw (itself grouped from
      // edges), so en's src set IS the node set
      val nodes = en.select(col("src").as("token")).distinct()
      // node count as a driver scalar (the PageRank n = deg.count()
      // pattern) instead of a 1-row frame crossJoined+broadcast per round
      val n = nodes.count().toDouble
      var pr = nodes.select(col("token"), (lit(1.0) / lit(n)).as("pr"))
      for (_ <- 1 to iters) {
        pr = en.join(pr.withColumnRenamed("token", "src"), "src")
          .groupBy("dst").agg(sum(col("wn") * col("pr")).as("s"))
          .select(col("dst").as("token"),
            round(lit(1.0 - damping) / lit(n) + lit(damping) * col("s"), 9)
              .as("pr"))
      }
      pr.select(col("token"), round(col("pr"), 6).as("pr"))
    }
  }

  /** Full per-document stats relation: the one-pass profile a pipeline
    * computes before filtering (tokens, bpe-ish tokens, lang, quality,
    * fingerprint). */
  def profile(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      TextFunctions.tokenCount(col(textCol)).as("n_tokens"),
      TextFunctions.bpeishTokenCount(col(textCol)).as("n_bpeish"),
      langId(col(textCol)).as("lang_id"),
      qualityScore(col(textCol)).as("quality"),
      fingerprint(col(textCol)).as("fp"))

  /** Tokenizer-fertility profile per language — the multilingual cost
    * report every tokenizer/budget decision needs (a language whose
    * subword fertility is 2× pays 2× the context window for the same
    * words; per-language token budgets that ignore it systematically
    * under-train high-fertility scripts). Per language: doc count,
    * character/word/subword totals and the two standard ratios —
    * fertility (subword tokens per whitespace word) and compression
    * (chars per subword token). One scan, |langs|-cardinality groupBy,
    * integer-ppm ratios (engine-exact, no rounding boundary). */
  def tokenizerFertility(docs: DataFrame, textCol: String,
      langCol: String): DataFrame = {
    val words = size(filter(split(col(textCol), "\\s+"), t => t =!= ""))
      .cast("long")
    docs
      .groupBy(col(langCol).as("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(length(col(textCol)).cast("long")).as("n_chars"),
        sum(words).as("n_words"),
        sum(TextFunctions.bpeishTokenCount(col(textCol))).as("n_subwords"))
      .withColumn("fertility",
        expr("((n_subwords * 1000000) div n_words)").cast("double")
          / lit(1000000.0))
      .withColumn("chars_per_token",
        expr("((n_chars * 1000000) div n_subwords)").cast("double")
          / lit(1000000.0))
      .orderBy("lang")
  }

  /** Code-likeness detection — the code/prose separator every
    * pretraining mixture needs (code is either gold or poison
    * depending on the corpus being built). Pure integer per-row
    * features, no model: code-symbol density (`{}();=<>[]` chars per
    * char, ppm), distinct code-keyword hits among the tokens, and the
    * flag rule symbol_ppm ≥ 20000 (2 %) OR ≥ 2 keyword hits. Per
    * source: doc counts, flagged counts/ppm, and the mean symbol
    * density (exact integer div) — the mixture-audit readout.
    * One scan, one partial-agg groupBy; everything engine-exact. */
  val CodeKeywords: Seq[String] = Seq("def", "return", "import",
    "class", "if", "else", "for", "while", "var", "val", "function")

  def codeDetection(docs: DataFrame, textCol: String,
      sourceCol: String): DataFrame = {
    docs
      .select(col(sourceCol).as("source"),
        length(col(textCol)).cast("long").as("__n"),
        (length(col(textCol)) - length(regexp_replace(col(textCol),
          "[{}();=<>\\[\\]]", ""))).cast("long").as("__sym"),
        size(array_intersect(TextFunctions.tokens(col(textCol)),
          typedLit(CodeKeywords))).cast("long").as("__kw"))
      .select(col("source"),
        expr("case when __n > 0 then (__sym * 1000000) div __n " +
          "else 0 end").as("__sp"), col("__kw"))
      .select(col("source"), col("__sp"),
        when(col("__sp") >= 20000L || col("__kw") >= 2L, 1L)
          .otherwise(0L).as("__c"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("__c")).as("n_code"),
        sum(col("__sp")).as("__sps"))
      .select(col("source"), col("n_docs"), col("n_code"),
        expr("(n_code * 1000000) div n_docs").as("code_ppm"),
        expr("__sps div n_docs").as("mean_symbol_ppm"))
      .orderBy("source")
  }

  /** Good–Turing frequency-of-frequencies profile of the corpus
    * vocabulary: n_r = how many token types occur exactly r times,
    * and the Turing-discounted adjusted count
    * r* = (r+1)·n_{r+1}/n_r — the raw material of every count-based
    * LM smoother and the standard "how much probability mass do
    * unseen types deserve" diagnostic (mass ≈ n_1/N). Types are
    * `shingleN`-gram shingles — the n-gram-LM view GT smoothing is
    * built for (and the regime where singletons actually exist; a
    * unigram vocabulary saturates). Two partial-agg groupBys (type
    * counts → counts of counts), grid output bounded by `maxR`. r* is
    * a single double division rounded to 6 dp — an identical
    * expression on both engines; null where n_{r+1} is absent.
    * Returns (r, n_r, r_star) for r ≤ maxR, ordered by r. */
  def freqOfFreqs(docs: DataFrame, textCol: String, maxR: Int = 8,
      shingleN: Int = 3): DataFrame = {
    val counts = docs
      .select(explode(TextFunctions.shingles(
        TextFunctions.tokens(col(textCol)), shingleN)).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("r"))
    val nr = counts.groupBy("r").agg(count(lit(1)).as("n_r"))
    nr.filter(col("r") <= maxR)
      .join(nr.select((col("r") - 1L).as("r"), col("n_r").as("__n1")),
        Seq("r"), "left")
      .select(col("r"), col("n_r"),
        round((col("r") + 1L).cast("double") * col("__n1").cast("double")
          / col("n_r").cast("double"), 6).as("r_star"))
      .orderBy("r")
  }

  /** Train-vocabulary coverage of a held-out split, per language: the
    * fraction of held-out token INSTANCES absent from the training
    * split's token vocabulary (OOV rate) plus the distinct-type view —
    * the distribution-shift smoke test run before committing a
    * tokenizer or a train/eval split (a high OOV language is
    * under-represented in training data).
    *
    * Scale shape: one tokenizer pass feeds both sides; the vocabulary
    * is the training side's DISTINCT tokens (token-type-scale, not
    * corpus-scale) and the membership test is a hash left-join on the
    * token — linear, no windows, no driver state. OOV rates are
    * integer ppm (exact div). Returns per-lang
    * (lang, n_tokens, oov_tokens, oov_ppm, n_types, oov_types,
    * oov_type_ppm) ordered by lang. */
  def vocabCoverage(docs: DataFrame, textCol: String, langCol: String,
      isTrain: Column): DataFrame = {
    val toks = docs
      .select(col(langCol).as("lang"), isTrain.as("__tr"),
        explode(TextFunctions.tokens(col(textCol))).as("tok"))
    val vocab = toks.filter(col("__tr")).select(col("tok")).distinct()
      .withColumn("__in", lit(1L))
    val test = toks.filter(!col("__tr"))
      .join(vocab, Seq("tok"), "left")
    val inst = test.groupBy("lang")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("oov_tokens"))
    val types = test.select(col("lang"), col("tok"), col("__in")).distinct()
      .groupBy("lang")
      .agg(count(lit(1)).as("n_types"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("oov_types"))
    inst.join(types, "lang")
      .select(col("lang"), col("n_tokens"), col("oov_tokens"),
        expr("(oov_tokens * 1000000) div n_tokens").as("oov_ppm"),
        col("n_types"), col("oov_types"),
        expr("(oov_types * 1000000) div n_types").as("oov_type_ppm"))
      .orderBy("lang")
  }

  /** Kneser–Ney CONTINUATION counts (Kneser & Ney 1995) — the unigram
    * statistic modern LM smoothing is built on: for each word w, the
    * number of DISTINCT left contexts it follows (bigram types ·w),
    * and p_cont(w) = N₁₊(·w) / N₁₊(··). A word frequent only inside
    * one collocation ("Francisco") gets a tiny continuation weight
    * however high its raw count — the signal raw-frequency vocabulary
    * pruning misses. One explode scan → one distinct bigram-type
    * relation (partial-agg'd) → a vocabulary-scale groupBy; the ratio
    * is integer-ppm half-away rounded. Returns the `topK` words by
    * (cont_count desc, token) with (token, cont_count, p_cont). */
  def knContinuationCounts(docs: DataFrame, idCol: String,
      textCol: String, topK: Int = 50): DataFrame = {
    val toks = docs.select(
      TextFunctions.tokens(col(textCol)).as("l"))
    val biTypes = toks.filter(size(col("l")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(l) - 1), " +
          "i -> struct(l[i - 1] AS u, l[i] AS v))")).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
      .distinct()
      .graftCheckpoint(false) // feeds the total AND the per-word counts
    val total = broadcast(biTypes.agg(count(lit(1)).as("tt")))
    biTypes.groupBy(col("v").as("token"))
      .agg(count(lit(1)).as("cont_count"))
      .crossJoin(total)
      .select(col("token"), col("cont_count"),
        (expr("""(2 * cont_count * 1000000 + tt) DIV (2 * tt)""")
          .cast("double") / 1e6).as("p_cont"))
      .orderBy(col("cont_count").desc, col("token"))
      .limit(topK)
  }

  /** Distinct-n diversity per source (the distinct-1/distinct-2 of
    * the text-generation literature, Li et al. 2016) — the "is this
    * synthetic slice mode-collapsed?" audit: unique-unigram and
    * unique-bigram fractions, integer-ppm exact. Low distinct-2 with
    * normal distinct-1 = repeated phrasing. One explode scan per
    * n-gram order, fixed-cardinality groupBys. Returns per source
    * (source, n_tokens, n_distinct1, distinct1_ppm, n_bigrams,
    * n_distinct2, distinct2_ppm) ordered by source. */
  def distinctNgramDiversity(docs: DataFrame, textCol: String,
      sourceCol: String): DataFrame = {
    val toks = docs.select(col(sourceCol).as("source"),
      TextFunctions.tokens(col(textCol)).as("l"))
      .graftCheckpoint(false) // unigram + bigram consumers
    val uni = toks.select(col("source"), explode(col("l")).as("t"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("t")).as("n_distinct1"))
    val bi = toks.filter(size(col("l")) >= 2)
      .select(col("source"), explode(expr(
        "transform(sequence(1, size(l) - 1), " +
          "i -> struct(l[i - 1] AS u, l[i] AS v))")).as("p"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_bigrams"),
        countDistinct(col("p")).as("n_distinct2"))
    uni.join(bi, Seq("source"), "left")
      .select(col("source"), col("n_tokens"), col("n_distinct1"),
        expr("(n_distinct1 * 1000000) div n_tokens").as("distinct1_ppm"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_distinct2"), lit(0L)).as("n_distinct2"),
        coalesce(expr("(n_distinct2 * 1000000) div n_bigrams"), lit(0L))
          .as("distinct2_ppm"))
      .orderBy("source")
  }

  /** Term burstiness (Church & Gale 1995): cf/df — mean occurrences
    * per document CONTAINING the term. A term with cf 1000 spread
    * over 1000 docs is background vocabulary; the same cf packed into
    * 20 docs (burstiness 50) is topical — the split behind
    * significant-terms scoring and topical stop-lists. Both counts
    * from one explode scan (df via distinct (term, doc) partial agg);
    * the ratio is integer-micro half-away rounded. Returns the `topK`
    * terms with df ≥ `minDf` by (burstiness desc, term). */
  def termBurstiness(docs: DataFrame, idCol: String, textCol: String,
      minDf: Long = 5L, topK: Int = 50): DataFrame = {
    val tok = docs.select(col(idCol).as("doc"),
      explode(TextFunctions.tokens(col(textCol))).as("t"))
      .graftCheckpoint(false) // cf + df consumers
    val cf = tok.groupBy("t").agg(count(lit(1)).as("cf"))
    val df = tok.select("doc", "t").distinct()
      .groupBy("t").agg(count(lit(1)).as("df"))
    cf.join(df, "t")
      .filter(col("df") >= minDf)
      .select(col("t").as("term"), col("df"), col("cf"),
        (expr("(2 * cf * 1000000 + df) DIV (2 * df)").cast("double")
          / 1e6).as("burstiness"))
      .orderBy(col("burstiness").desc, col("term"))
      .limit(topK)
  }
}
