package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR `SPARK_GRAFT_BENCH_REPS` times (default 3) and
  * prints one JSON line with per-query MEDIAN seconds (`queries`), the
  * raw per-run vectors (`runs`), the all-runs wall clock
  * (`wall_sec`), and the queries with a failed timed rep (`failed`). Results are written to the `noop` DSv2 sink — a full
  * evaluation of every output row — because `.count()` lets Catalyst
  * prune unevaluated projections and would bench pure-projection
  * queries as bare scans.
  *
  * `SPARK_GRAFT_FRESH_SESSION=1` runs the queries in groups of
  * `SPARK_GRAFT_FRESH_GROUP` (default 8), each group in a FRESH
  * SparkSession+SparkContext: two consecutive rounds showed a
  * 200-query single-session sweep charging late/light cells a
  * +0.2–0.65 s per-job accumulation tax (block-manager/broadcast/
  * listener state the single JVM never sheds) that fresh-session
  * re-runs collapse to the per-cell floor. Restarting the CONTEXT per
  * group sheds that state while the JIT stays warm, so the committed
  * vector measures plans, not session age. The closing BENCH_LATEST
  * vector is produced in this mode; the driver's single-session run
  * stays the compatibility default. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    def newSession(): SparkSession = {
      val s = SparkEntry.sessionBuilder(cpus.toInt).getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    // Optional comma-separated subset for controlled re-measures of
    // specific cells (drift adjudication) without paying the full
    // vector; absent → full suite, the driver's mode.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val selected = (only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None => SparkEntry.queries
    }).toSeq
    val fresh = sys.env.get("SPARK_GRAFT_FRESH_SESSION")
      .exists(v => v == "1" || v.equalsIgnoreCase("true"))
    val groupSize = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_FRESH_GROUP", "8").toInt)
    val groups =
      if (fresh) selected.grouped(groupSize).toSeq else Seq(selected)
    // Single-run cells on this box swing up to ~3× with no code change
    // (SURVEY §8; the r8 tail was unreadable against r7 for exactly this
    // reason), so each query runs `reps` times and reports its MEDIAN.
    // The total wall clock of all runs is reported alongside so the
    // median total cannot masquerade as a single-pass time. In fresh
    // mode the wall also covers per-group session startup + warm-up.
    val reps = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    val warmDir = "/root/testdata/sf0.001"
    val wall0 = System.nanoTime()
    val results = groups.flatMap { group =>
      val spark = newSession()
      // Warm-up pass OUTSIDE the timed region: run this group once at
      // the smallest scale factor so JVM/codegen/broadcast/window/
      // noop-sink initialization does not land on whichever query
      // happens to run first (observed to distort a first query by
      // 3-6 s). Timed numbers below are steady-state at the target SF.
      if (new java.io.File(warmDir).isDirectory)
        group.foreach { case (name, fn) =>
          try fn(spark, warmDir).write.mode("overwrite").format("noop").save()
          catch { case NonFatal(e) =>
            System.err.println(s"[bench] warm-up of $name failed: ${e.getMessage}")
          }
        }
      val rs = group.map { case (name, fn) =>
        val times = (1 to reps).map { _ =>
          // GC outside the timed region: heap churn from the previous
          // query otherwise lands on whichever query runs next (observed
          // to swing a heavy aggregation 2-12s run-to-run)
          System.gc()
          val t0 = System.nanoTime()
          try { fn(spark, sfDir).write.mode("overwrite").format("noop").save()
                (System.nanoTime() - t0) / 1e9 }
          catch { case NonFatal(e) =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            // failures are machine-distinguishable (-1), not fake fast times
            -1.0
          }
        }
        val good = times.filter(_ >= 0).sorted
        val median = if (good.isEmpty) -1.0 else good((good.length - 1) / 2)
        // Minimum alongside the median: on a shared box the min is the
        // better noise-floor estimator (a slow run has many causes, a
        // fast run only one — the code actually ran that fast).
        val minT = if (good.isEmpty) -1.0 else good.head
        name -> (median, minT, times)
      }
      if (fresh) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      rs
    }
    val wall = (System.nanoTime() - wall0) / 1e9
    val qs = results.map { case (k, (m, _, _)) => s"\"" + k + "\":" + m }
      .mkString("{", ",", "}")
    val mins = results.map { case (k, (_, mn, _)) => s"\"" + k + "\":" + mn }
      .mkString("{", ",", "}")
    val runs = results.map { case (k, (_, _, ts)) =>
      s"\"" + k + "\":" + ts.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2._1).sum else 0.0
    // a query with any failed timed rep, listed by name
    val failed = results.collect { case (k, (_, _, ts)) if ts.contains(-1.0) => k }
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","stat":"median","reps":$reps,"fresh_session":$fresh,"wall_sec":$wall,"queries":$qs,"mins":$mins,"runs":$runs,"failed":${
        failed.map("\"" + _ + "\"").mkString("[", ",", "]")},"sf":"$sfDir"}"""
    println(line)
    // Measurement-reporting fix (r20 VERDICT "What's wrong #1"),
    // additions only: the full line above is ~15 KB with 361 queries
    // and has NEVER fit a 2000-char stdout tail (`parsed: null` in
    // every BENCH_r*.json since r14), so a LAST compact line (≤200
    // chars) repeats the totals so any tail capture ends with
    // parseable JSON. Same env vars, same master string, same timing
    // methodology, same queries, same full line.
    println(s"""{"metric":"total","value":$total,"unit":"sec","n":${
      results.length},"failed":${failed.length},"reps":$reps,"cpus":"$cpus","fresh_session":$fresh,"wall_sec":$wall,"sf":"$sfDir"}""")
    // stdout capture has been observed to truncate the head of long JSON
    // lines (~90 per-query entries); persist the full vector to a file so
    // per-query timings always survive a round. BENCH_LATEST.json is
    // reserved for FULL-SURFACE vectors (the README convention — a
    // round-15 slip committed a 1-query solo re-measure as the closing
    // vector): a SPARK_GRAFT_BENCH_ONLY subset run writes
    // BENCH_SOLO.json instead, structurally unable to clobber it.
    val explicitOut = sys.env.get("SPARK_GRAFT_BENCH_OUT")
    val outPath = explicitOut.getOrElse(
      if (only.isDefined) "/root/repo/BENCH_SOLO.json"
      else "/root/repo/BENCH_LATEST.json")
    // The full vector ALSO lands in a per-core-count file
    // (BENCH_LATEST_c$cpus.json): the driver's low-core scaling run
    // re-invokes this main with a different $SPARK_GRAFT_CPUS and used
    // to overwrite the main-vector file, losing the full 32-core
    // vector (r20: only a 34-query tail of the c32 run survived). An
    // explicit SPARK_GRAFT_BENCH_OUT is written alone.
    val cpusPath =
      if (explicitOut.isDefined) None
      else Some(outPath.stripSuffix(".json") + s"_c$cpus.json")
    (outPath +: cpusPath.toSeq).foreach { p =>
      try {
        val w = new java.io.PrintWriter(new java.io.File(p), "UTF-8")
        try w.println(line) finally w.close()
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] could not write $p: ${e.getMessage}")
      }
    }
    // non-fresh mode leaves the single shared session running
    SparkSession.getDefaultSession.filterNot(_.sparkContext.isStopped)
      .foreach(_.stop())
  }
}
