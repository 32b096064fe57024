package graftbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.graftbench.BusDrain
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The benchmark's JVM side. Builds the session, runs one workload as a
  * closed loop with one client for the requested seconds, and writes
  * every raw measurement to `<work>/result.json`; `run.py` turns them
  * into metrics and checks the outputs.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <dataDir>
  *   <workDir> <cores> [<crawlDir> <batch>...]
  */
object Main {
  /** Writes the raw measurements (Scala maps, sequences, numbers). */
  val json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def session(cores: Int, workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config(SparkEntry.NanosAsLongKey, "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val workload = args(0)
    val seed = args(1).toLong
    val seconds = args(2).toDouble
    val trace = args(3) == "1"
    val Seq(dataDir, workDir) = args.slice(4, 6).toSeq
    val cores = args(6).toInt

    // set-up: the JVM's first session build plus a fixed warm-up query,
    // so first-use costs of the library and of Spark count
    val setupStart = System.nanoTime()
    val spark = session(cores, workDir)
    SparkEntry.queries("aggregate_flagship")(spark, dataDir)
      .write.mode("overwrite").format("noop").save()
    val setupS = (System.nanoTime() - setupStart) / 1e9
    val sc = spark.sparkContext

    val wl: Workload = workload match {
      case "catalog" =>
        new QueryWorkload(spark, Workloads.catalog, dataDir, workDir, seed)
      case "llm_hot" =>
        new QueryWorkload(spark, Workloads.LlmHot, dataDir, workDir, seed)
      case "crawl_ingest" =>
        new CrawlWorkload(spark, args(7), args.drop(8).toSeq, workDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val storage = new StorageTracker
    sc.addSparkListener(storage)
    val jobs = if (trace) Some(new JobTracker) else None
    jobs.foreach { j => sc.addSparkListener(j); spark.listenerManager.register(j) }

    val warmStart = System.nanoTime()
    val warmUpFailures = wl.warmUp()
    warmUpFailures.foreach { case (op, error) =>
      System.err.println(s"[perfbench] $op failed in the warm-up: $error")
    }
    releasePins(spark, storage)
    val warmUpS = (System.nanoTime() - warmStart) / 1e9

    val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val opFailures = mutable.ArrayBuffer.empty[Map[String, Any]]
    var attempted = 0
    var p = 0
    def failed(op: String, error: String): Unit = {
      opFailures += Map("op" -> op, "pass" -> p, "error" -> error)
      System.err.println(s"[perfbench] $op (pass $p) failed: $error")
    }
    val t0 = System.nanoTime()
    while (p == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      // GC outside the timed region, once per pass
      System.gc()
      BusDrain.drain(sc)
      storage.retireBroadcasts()
      storage.resetPeak()
      jobs.foreach(_.take())
      val ops = wl.pass(p)
      val timed = mutable.ArrayBuffer.empty[(Op, Map[String, Any])]
      ops.foreach { op =>
        attempted += 1
        val rddBefore = storage.rddStoredBytes
        val (rs, ws) = wl.storeNs
        try {
          if (trace) sc.setLocalProperty(Phases.PhaseKey, "construct")
          val startMs = System.currentTimeMillis()
          val a = System.nanoTime()
          val action = op.construct()
          val b = System.nanoTime()
          if (trace) sc.setLocalProperty(Phases.PhaseKey, "exec")
          action()
          val c = System.nanoTime()
          if (trace) sc.setLocalProperty(Phases.PhaseKey, null)
          val fields = mutable.ArrayBuffer[(String, Any)](
            "op" -> op.name, "pass" -> p, "s" -> (c - a) / 1e9)
          jobs.foreach { j =>
            BusDrain.drain(sc)
            val (js, plans) = j.take()
            val (r, w) = wl.storeNs
            fields ++= Layers.perOp(js, plans, startMs, (b - a) / 1e9,
              (c - b) / 1e9, (r - rs) / 1e9, (w - ws) / 1e9,
              storage.rddStoredBytes - rddBefore)
          }
          timed += op -> fields.toMap
        } catch { case NonFatal(e) =>
          if (trace) sc.setLocalProperty(Phases.PhaseKey, null)
          failed(op.name, String.valueOf(e.getMessage))
        }
        BusDrain.drain(sc)
        jobs.foreach(_.take())
        storage.retireBroadcasts()
      }
      BusDrain.drain(sc)
      val peak = storage.peakBytes
      // the checks of this pass's outputs, several at a time
      val wrong = Workloads.failing(timed.map(_._1).toSeq, cores)(_.check()).toMap
      wrong.foreach { case (name, error) => failed(name, error) }
      samples ++= timed.collect { case (op, s) if !wrong.contains(op.name) => s }
      val (indexRows, indexFiles) = wl.endPass(p)
      releasePins(spark, storage)
      passes += Map("pass" -> p, "storage_peak_bytes" -> peak,
        "index_rows" -> indexRows, "index_files" -> indexFiles)
      p += 1
    }
    val measuredS = (System.nanoTime() - t0) / 1e9

    val kernels = if (trace) Kernels.run(spark, dataDir).toMap else Map.empty
    json.writeValue(new File(s"$workDir/result.json"), Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "setup_s" -> setupS, "warm_up_s" -> warmUpS, "measured_s" -> measuredS,
      "attempted" -> attempted, "warm_up_failures" -> warmUpFailures.map(_._1),
      "op_failures" -> opFailures, "samples" -> samples, "passes" -> passes,
      "kernels" -> kernels) ++ wl.report)
    spark.stop()
  }

  /** Pins are never released by the program; the benchmark drops them,
    * and any cached plan, between passes so every pass starts from the
    * same storage state. `localCheckpoint` pins are not registered as
    * persistent RDDs, so their blocks are removed by RDD id. */
  def releasePins(spark: SparkSession, storage: StorageTracker): Unit = {
    spark.catalog.clearCache()
    BusDrain.drain(spark.sparkContext)
    val ids = storage.rddIds
    ids.foreach(BusDrain.removeRdd)
    storage.dropRdds(ids)
  }
}
