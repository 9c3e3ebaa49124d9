package graft.embed

import org.apache.spark.sql.SparkSession

/** Scratch quality probe for [[CorpusEncoderTrain]] (not part of the
  * driver contract): trains the corpus encoder at configurable
  * steps/margin/negatives/positional-encoding
  * settings and reports held-out span-retrieval recall@10 against the
  * word-TF-IDF baseline, using the trainer's own double-precision
  * forward (no ONNX round-trip), so objective/architecture experiments
  * turn around in minutes.
  *
  * Usage: runMain graft.embed.CorpusEncoderProbe [steps] [margin]
  *   [negs] [nbBuckets] [lr]
  */
object CorpusEncoderProbe {
  def main(args: Array[String]): Unit = {
    val steps = args.headOption.map(_.toInt).getOrElse(4000)
    val margin = if (args.length > 1) args(1).toDouble else 0.2
    val negs = if (args.length > 2) args(2).toInt else 1
    val nb = if (args.length > 3) args(3).toInt else 7
    val lr0 = if (args.length > 4) args(4).toDouble else 0.05
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val docs = graft.Tables.documents(spark, "/root/testdata/sf0.01")
      val enc0 = CorpusColbert.trained // tokenizer fixtures only
      val rows = docs.select("doc_id", "text").orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val ids = rows.map { case (id, t) =>
        (id, enc0.tokenIds(t).take(CorpusEncoderTrain.MaxDocTokens)) }
      val trainDocs = ids.collect {
        case (id, toks) if !CorpusEncoderTrain.isHeldOut(id) &&
          toks.length >= 6 => toks
      }
      val core = new EncoderCore(enc0.vocab, CorpusEncoderTrain.D,
        CorpusEncoderTrain.F, CorpusEncoderTrain.NLayers, NB = nb)
      // ---- train with k negatives per step ----
      val w = core.initWeights(CorpusEncoderTrain.Seed)
      val prior = if (args.length > 5) args(5).toDouble else 0.0
      if (nb > 0 && prior != 0.0) w.layers.foreach { l =>
        l.rb(nb / 2 - 1) = prior; l.rb(nb / 2 + 1) = prior
      }
      val rng = new java.util.Random(CorpusEncoderTrain.Seed + 1)
      var lossSum = 0.0; var lossN = 0
      val t0 = System.nanoTime()
      for (step <- 0 until steps) {
        val base = CorpusEncoderTrain.sampleTriple(rng, trainDocs)
        val g = core.zeroLike(w)
        var any = false
        for (_ <- 0 until negs) {
          var u = rng.nextInt(trainDocs.length)
          val t = base.copy(neg = trainDocs(u))
          val l = core.lossAndGradSeq(w, t, margin, g)
          if (l > 0.0) any = true
          lossSum += l; lossN += 1
        }
        if (any) core.sgd(w, g, lr0 * (1.0 - step.toDouble / steps) / negs)
        if ((step + 1) % 1000 == 0) {
          println(f"step ${step + 1}: mean hinge ${lossSum / lossN}%.4f " +
            f"(${(System.nanoTime() - t0) / 1e9}%.0f s)")
          lossSum = 0.0; lossN = 0
        }
      }
      // ---- eval: recall@10 on held-out span queries ----
      def toks(t: String): Array[String] =
        t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      def stateOf(tk: Array[Int]) = core.forward(tk, w)._1
      val docStates = ids.map { case (id, tk) => id -> stateOf(tk) }.toMap
      def maxsimD(q: EncoderCore.M, d: EncoderCore.M): Double = {
        if (q.isEmpty || d.isEmpty) return -1e18
        var s = 0.0
        for (qj <- q) {
          var best = -1e18
          for (di <- d) {
            var dot = 0.0; var t = 0
            while (t < qj.length) { dot += qj(t) * di(t); t += 1 }
            if (dot > best) best = dot
          }
          s += best
        }
        s / q.length
      }
      val m = rows.length.toDouble
      val df = scala.collection.mutable.Map.empty[String, Int]
      for ((_, text) <- rows; wd <- toks(text).distinct)
        df(wd) = df.getOrElse(wd, 0) + 1
      def tfidf(ws: Array[String]): Map[String, Double] = {
        val tf = ws.groupBy(identity).map { case (x, g) => x -> g.length }
        val raw = tf.map { case (x, c) =>
          x -> c * math.log((m + 1.0) / (df.getOrElse(x, 0) + 1.0)) }
        val n = math.sqrt(raw.values.map(v => v * v).sum)
        if (n == 0.0) raw else raw.map { case (x, v) => x -> v / n }
      }
      val docVecs = rows.map { case (id, t) => id -> tfidf(toks(t)) }.toMap
      def cos(a: Map[String, Double], b: Map[String, Double]): Double =
        a.iterator.map { case (k, v) => v * b.getOrElse(k, 0.0) }.sum
      val erng = new java.util.Random(20260818L)
      val held = rows.filter { case (id, t) =>
        CorpusEncoderTrain.isHeldOut(id) && toks(t).length >= 16 }
      var hitT = 0; var hitTf = 0
      for ((id, text) <- held) {
        val ws = toks(text)
        val start = erng.nextInt(ws.length - 8 + 1)
        val span = ws.slice(start, start + 8)
        val qT = stateOf(enc0.tokenIds(span.mkString(" ")))
        val qv = tfidf(span)
        def top10(score: Long => Double): Seq[Long] =
          rows.toSeq.map(_._1).sortBy(i => (-score(i), i)).take(10)
        if (top10(i => maxsimD(qT, docStates(i))).contains(id)) hitT += 1
        if (top10(i => cos(qv, docVecs(i))).contains(id)) hitTf += 1
      }
      println(f"recall@10 over ${held.length} queries: " +
        f"trained=${hitT / held.length.toDouble}%.3f " +
        f"tfidf=${hitTf / held.length.toDouble}%.3f " +
        f"(steps=$steps margin=$margin negs=$negs nb=$nb lr=$lr0)")
    } finally spark.stop()
  }
}
