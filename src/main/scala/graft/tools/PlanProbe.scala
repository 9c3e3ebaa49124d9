package graft.tools
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Scratch stage-timing probe (not part of the driver contract). */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/sf1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] $label%-34s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }
    val docs = graft.Tables.documents(spark, dir)
    val nh = graft.dedup.Dedup.NumHashes
    // current operator
    val sigs = graft.dedup.Dedup.minhashSignatures(docs, "doc_id", "text")
    t("minhashSignatures (current)")(
      sigs.write.mode("overwrite").format("noop").save())
    // raw minhash array, no per-seed split
    val mh = docs.select(col("doc_id"),
      org.apache.spark.sql.graftext.MinHashExpr.minhash(
        TextFunctions.shingles(TextFunctions.tokens(col("text")), 3),
        nh).as("mh"))
    t("minhash array only")(
      mh.write.mode("overwrite").format("noop").save())
    // split AFTER a checkpoint barrier
    val ck = mh.localCheckpoint(true)
    val split = ck.select((col("doc_id") +: (0 until nh).map(i =>
      element_at(col("mh"), i + 1).as(s"h$i"))): _*)
    t("split after barrier")(
      split.write.mode("overwrite").format("noop").save())
    spark.stop()
  }
}
