package graft
import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Optimization-round measurement harness (guide §1): for each named
  * query, run once as warm-up, then run timed with a stage listener and
  * print a per-stage breakdown (duration, task count, shuffle
  * read/write, records, spill) plus the formatted physical plan. The
  * plan text can be dumped to a file via `SPARK_GRAFT_PLAN_DIR` with a
  * `SPARK_GRAFT_PLAN_SUFFIX` (e.g. `_before` / `_after`), which is how
  * the committed `plans/r20` evidence files are produced — this main
  * measures, it never changes what a query computes.
  *
  * Usage: runMain graft.Profile <q1,q2,...> [sfDir]
  * Env: SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_PLAN_DIR,
  * SPARK_GRAFT_PLAN_SUFFIX, SPARK_GRAFT_PROFILE_REPS (default 2; rep 2
  * — the first steady-state rep — is reported per stage, every rep's
  * wall time prints).
  *
  * A stage is named by its call site. A call site in a `.java` file is
  * JDK thread-pool plumbing (a broadcast built on a `CompletableFuture`
  * reports `$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java`);
  * graft has only Scala sources, so such a stage is named instead by the
  * description of the SQL execution that ran it: the call site of the
  * graft pin or action that started it.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROFILE_REPS", "2").toInt
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    val planSuffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "")
    val builder = SparkEntry.sessionBuilder(cpus.toInt)
    // A/B experiment hook: "key=value;key=value" extra session confs
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(';')
      .map(_.trim).filter(_.contains('=')).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        builder.config(k, v)
      })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val warmDir = "/root/testdata/sf0.001"
    def profile(name: String): Unit = {
      val fn = SparkEntry.queries(name)
      // warm-up at the smallest SF so codegen/broadcast init is off-ledger
      if (new java.io.File(warmDir).isDirectory)
        try fn(spark, warmDir).write.mode("overwrite").format("noop").save()
        catch { case NonFatal(e) =>
          // r20 ADVICE: a query broken at small scale should say so
          // here, not surface later as confusing timed numbers (and a
          // fatal error — OOM etc. — must not be swallowed at all)
          println(s"[profile] warm-up of $name failed: ${e.getMessage}")
        }
      val df = fn(spark, sfDir)
      planDir.foreach { d =>
        new java.io.File(d).mkdirs()
        val w = new java.io.PrintWriter(
          new java.io.File(s"$d/$name$planSuffix.txt"), "UTF-8")
        try w.println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        finally w.close()
      }
      case class St(id: Int, nm: String, ms: Long, tasks: Int,
        shufReadMB: Double, shufWriteMB: Double, inRec: Long,
        outRows: Long, spillMB: Double)
      val stages = ArrayBuffer.empty[St]
      val stageExec = mutable.Map.empty[Int, Long] // stage -> SQL execution
      val execDesc = mutable.Map.empty[Long, String]
      val listener = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit =
          Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .foreach(id => js.stageIds.foreach(stageExec(_) = id.toLong))
        override def onOtherEvent(ev: SparkListenerEvent): Unit = ev match {
          case s: SparkListenerSQLExecutionStart =>
            execDesc(s.executionId) = s.description
          case _ => ()
        }
        override def onStageCompleted(
            sc: SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val m = si.taskMetrics
          stages += St(si.stageId, si.name.takeWhile(_ != '\n'),
            si.completionTime.getOrElse(0L) -
              si.submissionTime.getOrElse(0L),
            si.numTasks,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6,
            m.inputMetrics.recordsRead,
            m.shuffleWriteMetrics.recordsWritten,
            m.memoryBytesSpilled / 1e6)
        }
      }
      // deliver every posted stage event before the listener goes, so
      // late rep-2 stages are not dropped
      def detach(): Unit =
        try ListenerBusDrain.drain(spark.sparkContext)
        finally spark.sparkContext.removeSparkListener(listener)
      println(s"==== $name ====")
      try (1 to reps).foreach { r =>
        // listener active for rep 2 ONLY (r20 ADVICE: with reps > 2 it
        // used to aggregate stages from reps 2..N, contradicting the
        // per-stage table's "one rep" doc)
        if (r == 2) spark.sparkContext.addSparkListener(listener)
        if (r == 3) detach()
        System.gc()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"  rep$r%d wall: $dt%8.3f s")
      } finally detach()
      println(
        "  stageId     ms tasks  shufRdMB  shufWrMB     inRec    wrRec  spillMB  name")
      def label(s: St): String =
        (if (!s.nm.contains(".java:")) s.nm
         else stageExec.get(s.id).flatMap(execDesc.get).getOrElse(s.nm))
          .takeWhile(_ != '\n').take(60)
      stages.sortBy(-_.ms).take(25).foreach { s =>
        println(f"  ${s.id}%7d ${s.ms}%6d ${s.tasks}%5d ${s.shufReadMB}%9.2f ${s.shufWriteMB}%9.2f ${s.inRec}%9d ${s.outRows}%8d ${s.spillMB}%8.1f  ${label(s)}")
      }
      stages.clear()
    }
    // One query's failure prints and the sweep moves on to the next;
    // a fatal error (OOM etc.) still ends the run.
    names.foreach { name =>
      try profile(name)
      catch { case NonFatal(e) =>
        println(s"[profile] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
