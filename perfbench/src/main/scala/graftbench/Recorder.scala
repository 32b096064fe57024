package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Block-manager storage in use, from the block-update events the
  * driver's block manager master posts for every stored, changed or
  * dropped block. Always attached: it feeds the end-to-end
  * `storage_peak_mb` metric. Pins (RDD blocks) count until the
  * benchmark releases them at the end of a pass. A broadcast block
  * counts from when it is stored until the end of the op that stored
  * it ([[retireBroadcasts]]): the context cleaner drops broadcasts on
  * whichever garbage collection happens to find them, inside the op or
  * long after it, so following its removals would make the peak
  * depend on GC timing. */
final class StorageTracker extends SparkListener {
  private val memByBlock = mutable.HashMap.empty[String, Long]
  private val retired = mutable.HashSet.empty[String]
  private val seenRdd = mutable.HashSet.empty[String]
  private var inUse = 0L
  private var peak = 0L
  private var rddStored = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val id = info.blockId.name
    val broadcast = id.startsWith("broadcast_")
    val mem = if (info.storageLevel.isValid) info.memSize else 0L
    val before = memByBlock.getOrElse(id, 0L)
    if (!retired(id) && !(broadcast && mem < before)) {
      inUse += mem - before
      if (mem == 0L) memByBlock.remove(id) else memByBlock(id) = mem
      peak = math.max(peak, inUse)
    }
    if (info.blockId.isRDD && info.storageLevel.isValid && seenRdd.add(id))
      rddStored += info.memSize + info.diskSize
  }

  /** Stops counting every broadcast block stored so far. */
  def retireBroadcasts(): Unit = synchronized {
    memByBlock.keys.filter(_.startsWith("broadcast_")).toList.foreach { id =>
      inUse -= memByBlock.remove(id).getOrElse(0L)
      retired += id
    }
  }

  /** Starts a new peak window at the current level. */
  def resetPeak(): Unit = synchronized { peak = inUse }
  def peakBytes: Long = synchronized { peak }
  /** Ids of the RDDs that hold blocks now. */
  def rddIds: Set[Int] = synchronized {
    memByBlock.keys.filter(_.startsWith("rdd_"))
      .map(_.stripPrefix("rdd_").takeWhile(_ != '_').toInt).toSet
  }

  /** Stops counting the blocks of `ids`: the block manager removes an
    * RDD's blocks without posting block-update events. */
  def dropRdds(ids: Set[Int]): Unit = synchronized {
    memByBlock.keys.filter(k => k.startsWith("rdd_") &&
      ids(k.stripPrefix("rdd_").takeWhile(_ != '_').toInt)).toList.foreach { k =>
      inUse -= memByBlock.remove(k).getOrElse(0L)
    }
  }

  /** Bytes of RDD blocks stored for the first time so far. */
  def rddStoredBytes: Long = synchronized { rddStored }
}

/** One finished Spark job with the stages it ran. */
final case class JobRec(
    id: Int, startMs: Long, endMs: Long, phase: String, store: String,
    executionId: String, callSite: String, stages: Seq[StageRec])

final case class StageRec(
    numTasks: Int, runTimeMs: Long, shuffleReadBytes: Long,
    shuffleWriteBytes: Long, spillBytes: Long, inputBytes: Long,
    inputRecords: Long, outputBytes: Long)

/** Traced runs only: every job, stage and query execution of the op in
  * flight. The harness tags its own calls with local properties
  * (`graftbench.phase`, `graftbench.store`), which Spark copies into
  * each job it submits, so jobs are attributed exactly, not by timing. */
final class JobTracker extends SparkListener with QueryExecutionListener {
  private val open = mutable.HashMap.empty[Int, (Long, Seq[String], Seq[Int])]
  private val stages = mutable.HashMap.empty[Int, StageRec]
  private val done = mutable.ArrayBuffer.empty[JobRec]
  private val plans = mutable.ArrayBuffer.empty[(String, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val site =
      if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    open(e.jobId) = (e.time, Seq(prop(Phases.PhaseKey), prop(Phases.StoreKey),
      prop("spark.sql.execution.id"), site), e.stageIds)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = Option(i.taskMetrics)
    def get(f: org.apache.spark.executor.TaskMetrics => Long) = m.map(f).getOrElse(0L)
    stages(i.stageId) = StageRec(i.numTasks,
      get(_.executorRunTime),
      get(x => x.shuffleReadMetrics.remoteBytesRead + x.shuffleReadMetrics.localBytesRead),
      get(_.shuffleWriteMetrics.bytesWritten),
      get(x => x.memoryBytesSpilled + x.diskBytesSpilled),
      get(_.inputMetrics.bytesRead),
      get(_.inputMetrics.recordsRead),
      get(_.outputMetrics.bytesWritten))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { case (start, Seq(phase, store, exec, site), ids) =>
      done += JobRec(e.jobId, start, e.time, phase, store, exec, site,
        ids.flatMap(stages.remove))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(funcName, qe)
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    planned(funcName, qe)
  private def planned(funcName: String, qe: QueryExecution): Unit = synchronized {
    plans += ((funcName, qe.tracker.phases.values.map(_.durationMs).sum))
  }

  /** Hands over (and forgets) everything recorded since the last call. */
  def take(): (Seq[JobRec], Seq[(String, Long)]) = synchronized {
    val r = (done.toList, plans.toList)
    done.clear(); plans.clear(); stages.clear()
    r
  }
}

object Phases {
  val PhaseKey = "graftbench.phase"
  val StoreKey = "graftbench.store"
}
