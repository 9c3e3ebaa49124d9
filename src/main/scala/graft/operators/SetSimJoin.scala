package graft.operators

import graft.operators.Ckpt.CkptOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Exact set-similarity self-join via prefix filtering (the
  * PPJoin/AllPairs family — Bayardo et al. WWW'07, Xiao et al.
  * WWW'08). Unlike the LSH candidate generators in
  * [[graft.dedup.Dedup]] (probabilistic recall, hot-band caps), this
  * operator returns EXACTLY the pairs with Jaccard ≥ τ — no false
  * negatives — while still never materializing the all-pairs product.
  *
  * The pruning identity: order every set's elements by ascending
  * global document frequency (rarest first, ties by value); if two
  * sets have Jaccard ≥ τ they must overlap within their first
  * `|x| − ⌈τ·|x|⌉ + 1` elements, so the inverted index is built over
  * PREFIXES only. Because prefixes hold each set's RAREST elements,
  * posting lists are short by construction — the frequent tokens that
  * would create quadratic groups are exactly the ones excluded from
  * indexing. A length filter (⌈τ·max(|a|,|b|)⌉ ≤ min(|a|,|b|),
  * necessary since J ≤ min/max) prunes candidates before
  * verification.
  *
  * Scale shape: one scan builds (doc, element) with df ranks (window
  * partitioned by doc — per-document state only, high-cardinality
  * key); the candidate stage shuffles only prefix postings ONCE into
  * per-element groups (the df-rank ordering makes these the corpus's
  * rare tail) and emits in-group pairs; verification
  * joins the bounded per-doc element arrays back and intersects
  * in-row. No window over the corpus, no driver state, no caps — and
  * the output is oracle-checkable against a naive exact join.
  */
object SetSimJoin {

  /** All pairs of docs whose `n`-shingle sets have Jaccard ≥ `tau`.
    * Output: (a, b, jaccard) with a < b, jaccard rounded to 6. */
  def jaccardJoin(docs: DataFrame, idCol: String, textCol: String,
      tau: Double, shingleN: Int = 3): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0,1], got $tau")
    // Tokenize+shingle ONCE: three consumers need the element relation
    // (global df, the ranked prefix build, and the verify-set semi-join)
    // and their exchanges differ, so without truncation the regex/
    // shingle CPU runs three times. Checkpoint the COMPACT pre-explode
    // arrays (one row per doc — an A/B showed checkpointing the
    // EXPLODED relation loses 2× on block size); each consumer re-pays
    // only the cheap explode.
    val arrs = docs
      .select(col(idCol).as("doc_id"),
        array_distinct(TextFunctions.shingles(
          TextFunctions.tokens(col(textCol)), shingleN)).as("els0"))
      .graftCheckpoint(false)
    // set length rides the pre-explode array (no per-doc window needed)
    val elems = arrs
      .select(col("doc_id"), size(col("els0")).as("len"),
        explode(col("els0")).as("el"))
    // global document frequency per element — the prefix ordering key.
    // Deliberately a partial-agg groupBy + join-back, NOT a window over
    // the el partition: a hot element (stop-shingle) would serialize
    // its whole posting list onto one window task.
    val df = elems.groupBy("el").agg(count(lit(1)).as("df"))
    val ranked = elems.join(df, "el")
      .withColumn("r", row_number().over(Window.partitionBy("doc_id")
        .orderBy(col("df").asc, col("el").asc)))
    // prefix length p = |x| − ⌈τ|x|⌉ + 1
    val prefix = ranked.filter(
      col("r") <= col("len") - ceil(lit(tau) * col("len")) + 1)
    // Candidate generation: group the inverted index's postings per
    // element and emit in-group pairs — the LSH-band pattern, NOT a
    // prefix ⋈ prefix self-join. The self-join consumed the prefix
    // subtree twice (df-join + per-doc window once per side: 6 Window
    // nodes / 14 scans in the round-13 q199 plan) and shuffled the
    // postings twice; one groupBy(el) shuffles them once and the
    // length filter runs in-row on the generated pairs. UNCAPPED
    // collect (exactness forbids the hot-band cap): safe because
    // postings here are PREFIX postings — df-ascending ordering puts
    // only each set's rarest elements in the index, so a list is long
    // only for genuinely-shared rare shingles (the candidates we must
    // emit anyway; the join shape had the identical quadratic output).
    // A/B (4 alternating reps, steal ≤ 11): group
    // 1.79 s vs self-join 2.80 s best-of at sf0.1.
    val cands = prefix
      .groupBy("el")
      .agg(sort_array(collect_list(
        struct(col("doc_id"), col("len")))).as("ps"))
      .filter(size(col("ps")) >= 2)
      .select(explode(org.apache.spark.sql.graftext.PairsAscExpr
        .pairsAsc(col("ps"))).as("p"))
      .select(col("p._1.doc_id").as("a"), col("p._1.len").as("la"),
        col("p._2.doc_id").as("b"), col("p._2.len").as("lb"))
      // J ≤ min/max ⇒ require ⌈τ·max⌉ ≤ min
      .filter(ceil(lit(tau) * greatest(col("la"), col("lb")))
        <= least(col("la"), col("lb")))
      .select("a", "b")
      .distinct()
      // two consumers (candIds and the verify join) — materialize the
      // candidate pairs once instead of re-running the candidate build
      // per consumer
      .graftCheckpoint(false)
    // verification: bounded per-doc sorted element arrays, in-row
    // intersection (array size ≤ doc length — never corpus-scale).
    // Aggregate sets ONLY for docs that reached the candidate stage —
    // the semi-join prunes the set-materialization input from corpus
    // size to candidate size BEFORE the groupBy (at 100 TB candidates
    // are a sliver of the corpus; without the prune this aggregation
    // re-shuffles every document's shingles just to be dropped by the
    // verify joins).
    val candIds = cands
      .select(explode(array(col("a"), col("b"))).as("doc_id"))
      .distinct()
    // the checkpointed per-doc arrays ARE the verify sets already —
    // a semi-join + map-side sort, not a re-explode + collect_list
    // shuffle of every candidate's shingles
    // checkpointed: the a-side and b-side verify joins BOTH consume
    // sets — one materialization instead of two semi-join rebuilds
    val sets = arrs.join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), sort_array(col("els0")).as("els"),
        size(col("els0")).cast("long").as("n"))
      .graftCheckpoint(false)
    val verified = cands
      .join(sets.select(col("doc_id").as("a"), col("els").as("ea"),
        col("n").as("na")), "a")
      .join(sets.select(col("doc_id").as("b"), col("els").as("eb"),
        col("n").as("nb")), "b")
      .withColumn("inter",
        size(array_intersect(col("ea"), col("eb"))).cast("double"))
      .withColumn("jaccard",
        round(col("inter") / (col("na") + col("nb") - col("inter")), 6))
      .filter(col("inter") / (col("na") + col("nb") - col("inter"))
        >= tau)
    verified.select(col("a"), col("b"), col("jaccard"))
  }
}
