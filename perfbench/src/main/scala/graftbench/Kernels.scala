package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.ext.TextOps
import graft.functions.GraftFunctions

/** Rows per second of the native `GraftFunctions` kernels over fixture
  * columns. Each input is replicated to a fixed row count and cached
  * first; a kernel's time is its `noop` write minus the write of the
  * same cached columns without the kernel (the bare scan), so what is
  * left is the kernel's own per-row cost. */
object Kernels {
  val Reps = 3

  private def time(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.mode("overwrite").format("noop").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Replicates `df` to at least `rows` rows and caches it. */
  private def input(df: DataFrame, rows: Long): (DataFrame, Long) = {
    val n = df.count()
    val copies = math.max(1L, (rows + n - 1) / n)
    val out = df.crossJoin(broadcast(df.sparkSession.range(copies).toDF("copy")))
      .drop("copy").repartition(df.sparkSession.sparkContext.defaultParallelism)
      .cache()
    (out, out.count())
  }

  def run(spark: SparkSession, dir: String): Seq[(String, Double)] = {
    val docs = SparkEntry.table(spark, dir, "documents")
      .select(col("text"), split(col("text"), " ").as("tokens"),
        TextOps.shingles(col("text"), 3).as("shingles"))
    val names = SparkEntry.table(spark, dir, "customer")
      .select(col("c_name").as("a"), reverse(col("c_name")).as("b"))
    val keys = SparkEntry.table(spark, dir, "orders").select(col("o_orderkey"))
    val emb = SparkEntry.table(spark, dir, "embeddings")
    val pairs = emb.select(col("vec_id"), col("embedding").as("a"))
      .join(emb.select((col("vec_id") - 1).as("vec_id"), col("embedding").as("b")),
        "vec_id")
      .select("a", "b")

    val cases: Seq[(String, DataFrame, Long, Seq[String], Column)] = Seq(
      ("jaro_winkler", names, 400000L, Seq("a", "b"),
        GraftFunctions.jaroWinkler(col("a"), col("b"))),
      ("md5_prefix32", keys, 1000000L, Seq("o_orderkey"),
        GraftFunctions.md5Prefix32(col("o_orderkey"))),
      ("shingle_strings", docs.select("tokens"), 100000L, Seq("tokens"),
        GraftFunctions.shingleStrings(col("tokens"), 3)),
      ("minhash_oph", docs.select("shingles"), 100000L, Seq("shingles"),
        GraftFunctions.minhashSignatureOph(col("shingles"), 64)),
      ("normalize_text", docs.select("text"), 100000L, Seq("text"),
        GraftFunctions.normalizeText(col("text"))),
      ("bpe_token_count", docs.select("text"), 50000L, Seq("text"),
        GraftFunctions.bpeTokenCount(col("text"), TextOps.demoBpeMerges)),
      ("cosine", pairs, 400000L, Seq("a", "b"),
        GraftFunctions.cosine(col("a"), col("b"))))

    cases.map { case (name, src, target, cols, kernel) =>
      val (in, rows) = input(src, target)
      val base = in.select(cols.map(col): _*)
      val withKernel = in.select(cols.map(col) :+ kernel.as("k"): _*)
      time(withKernel) // warm-up of the generated code
      val runs = (1 to Reps).map(_ => (time(base), time(withKernel)))
      in.unpersist(blocking = true)
      val kernelS = median(runs.map(_._2)) - median(runs.map(_._1))
      s"functions.$name.rows_per_s" -> rows / math.max(kernelS, 1e-4)
    }
  }
}
