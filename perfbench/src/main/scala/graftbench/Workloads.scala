package graftbench

import java.io.File
import java.util.concurrent.Executors

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.ext.{IncrementalIndex, TextOps}
import graft.sources.{DataStore, ParquetStore}

/** One timed operation. `construct` runs the program's own code up to
  * the point where a result exists (lazily built frames plus whatever
  * jobs construction launches); the returned thunk is the final action.
  * `check` runs after the pass, outside the clock and before the pass's
  * pins are released, and records what the benchmark verifies later. */
final case class Op(
    name: String,
    construct: () => (() => Unit),
    check: () => Unit = () => ())

trait Workload {
  /** Untimed work before the first timed op, only so that the timed
    * passes run code the JIT has already compiled; nothing of it is
    * checked. Returns the ops that failed, with the error message. */
  def warmUp(): Seq[(String, String)]
  /** The ops of one pass, in run order. */
  def pass(index: Int): Seq[Op]
  /** Untimed clean-up after a pass; returns (index rows, index files). */
  def endPass(index: Int): (Long, Long) = (0L, 0L)
  /** Nanoseconds spent so far in store reads and in store writes. */
  def storeNs: (Long, Long) = (0L, 0L)
  /** Extra result fields. */
  def report: Map[String, Any] = Map.empty
}

object Workloads {
  /** The 13 heaviest LLM-data cells (construction-, execution- and
    * kernel-bound) and the composed flagship pipeline. */
  val LlmHot: Seq[String] = Seq(
    "rolling_corr", "k_truss", "theil_sen", "ccnet_buckets",
    "graph_modularity", "pareto_layers", "incremental_set_sim",
    "set_sim_join", "fuzzy_key_pairs", "fellegi_sunter",
    "gopher_repetition", "link_prediction", "pipeline_flagship")

  /** The bubbles-verb queries: every query of the base catalog, i.e.
    * every registered query that the extension families do not add. */
  def catalog: Seq[String] =
    (SparkEntry.queries.keySet -- graft.ExtQueries.queries.keySet).toSeq.sorted

  def permuted[A](xs: Seq[A], seed: Long, pass: Int): Seq[A] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(xs)

  /** Runs `f` on every op, `threads` at a time; returns the ops it
    * failed on, with the error message. */
  def failing(ops: Seq[Op], threads: Int)(f: Op => Unit): Seq[(String, String)] = {
    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(ops) { op =>
      Future(try { f(op); None } catch { case NonFatal(e) =>
        Some(op.name -> String.valueOf(e.getMessage))
      })
    }, Duration.Inf).flatten finally pool.shutdown()
  }
}

/** `catalog` and `llm_hot`: registered driver queries, each op one
  * `SparkEntry.queries` call written to the `noop` sink. */
final class QueryWorkload(
    spark: SparkSession, names: Seq[String], dataDir: String,
    workDir: String, seed: Long) extends Workload {

  private val oracleDir = s"$workDir/oracle"

  private def build(name: String): DataFrame =
    SparkEntry.queries(name)(spark, dataDir)

  /** Runs every query once into the `noop` sink, several at a time:
    * executors are mostly idle while one query runs. */
  def warmUp(): Seq[(String, String)] =
    Workloads.failing(pass(-1), spark.sparkContext.defaultParallelism)(_.construct()())

  /** Op `name` builds the query and writes it to the `noop` sink. In
    * the first timed pass its check writes the same frame again to
    * `oracle/<name>` as the project's `Verify` main does (one parquet
    * file); `tools/check_oracle.py` compares those files with the
    * DuckDB oracle. */
  def pass(index: Int): Seq[Op] = {
    if (index == 0) {
      new File(oracleDir).mkdirs()
      Main.json.writeValue(new File(s"$oracleDir/oracle_sql.json"),
        names.map(n => n -> SparkEntry.oracleSql(n)).toMap)
    }
    Workloads.permuted(names, seed, index).map { name =>
      var df: DataFrame = null
      Op(name, () => {
        df = build(name)
        () => df.write.mode("overwrite").format("noop").save()
      }, () => if (index == 0)
        df.coalesce(1).write.mode("overwrite").parquet(s"$oracleDir/$name"))
    }
  }
}

/** Times the benchmark's calls into a [[DataStore]] and tags the jobs
  * they launch, so the traced run can tell store reads and writes from
  * the rest of the op. */
final class TimedStore(underlying: DataStore) extends DataStore {
  var readNs = 0L
  var writeNs = 0L

  private def timed[A](kind: String)(f: => A): A = {
    val sc = spark.sparkContext
    val before = sc.getLocalProperty(Phases.StoreKey)
    sc.setLocalProperty(Phases.StoreKey, kind)
    val t0 = System.nanoTime()
    try f
    finally {
      val dt = System.nanoTime() - t0
      if (kind == "read") readNs += dt else writeNs += dt
      sc.setLocalProperty(Phases.StoreKey, before)
    }
  }

  def spark: SparkSession = underlying.spark
  def objectNames: Seq[String] = underlying.objectNames
  override def exists(name: String): Boolean = underlying.exists(name)
  def getObject(name: String): DataFrame = timed("read")(underlying.getObject(name))
  def create(name: String, from: DataFrame, replace: Boolean): Unit =
    timed("write")(underlying.create(name, from, replace))
  def appendInto(name: String, rows: DataFrame): Unit =
    timed("write")(underlying.appendInto(name, rows))
}

/** `crawl_ingest`: the recurring-crawl loop over the exact
  * set-similarity index on a fresh [[ParquetStore]] per pass. Op
  * `create` builds the index from the history slice; op `ingest_NN`
  * dedups batch NN against it and appends the survivors. */
final class CrawlWorkload(
    spark: SparkSession, crawlDir: String, batches: Seq[String],
    workDir: String) extends Workload {

  private val IndexName = "doc_index"
  private val survivors = mutable.LinkedHashMap.empty[String, Seq[Long]]
  private val mismatchedPasses = mutable.LinkedHashSet.empty[Int]
  private var store: TimedStore = _

  private def storeDir(index: Int) = s"$workDir/store/pass_$index"

  private def docs(name: String): DataFrame =
    SparkEntry.table(spark, crawlDir, name).filter(col("text").isNotNull)
      .withColumn("toks", TextOps.shingles(col("text"), 3))

  /** Survivor ids per batch of the first timed pass are the result
    * that is checked; every later pass must reproduce them exactly. */
  private def record(index: Int, batch: String, ids: Seq[Long]): Unit = synchronized {
    if (index >= 0) survivors.get(batch) match {
      case None => survivors(batch) = ids
      case Some(first) => if (first != ids) mismatchedPasses += index
    }
  }

  /** `create` and the first [[WarmBatches]] batches on a throwaway
    * store. */
  def warmUp(): Seq[(String, String)] = {
    val failed = pass(-1).take(1 + CrawlWorkload.WarmBatches).flatMap { op =>
      try { op.construct()(); op.check(); None }
      catch { case NonFatal(e) => Some(op.name -> String.valueOf(e.getMessage)) }
    }
    endPass(-1)
    failed
  }

  def pass(index: Int): Seq[Op] = {
    store = new TimedStore(ParquetStore(spark, storeDir(index)))
    val idx = IncrementalIndex.setSimilarity(store, IndexName, "doc_id", "toks",
      threshold = 0.5)
    val create = Op("create", () => {
      val history = docs("history")
      () => idx.create(history, replace = true)
    })
    create +: batches.map { b =>
      var kept: DataFrame = null
      Op("ingest_" + b.stripPrefix("batch_"), () => {
        val batch = docs(b)
        () => kept = idx.ingest(batch)
      }, () => record(index, b,
        kept.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted))
    }
  }

  override def storeNs: (Long, Long) = (store.readNs, store.writeNs)

  override def endPass(index: Int): (Long, Long) = {
    val rows = ParquetStore(spark, storeDir(index)).getObject(IndexName).count()
    val dir = new File(s"${storeDir(index)}/$IndexName.parquet")
    val files = Option(dir.listFiles()).getOrElse(Array.empty[File])
      .count(f => f.getName.endsWith(".parquet")).toLong
    deleteTree(new File(storeDir(index)))
    (rows, files)
  }

  override def report: Map[String, Any] = Map(
    "survivors" -> survivors.toMap,
    "mismatched_passes" -> mismatchedPasses.toSeq)

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

object CrawlWorkload {
  val WarmBatches = 1
}
