package graft

import java.io.ByteArrayOutputStream
import org.apache.spark.sql.functions.col

/** ScaleBench's curve driver on tiny `spark.range` inputs: the printed
  * skeleton, the warm-up / median-of-3 discipline, and that every pin is
  * released; plus the phase selector. */
class ScaleBenchSpec extends SparkSpec {
  import ScaleBench._

  /** RDDs that hold blocks right now (other suites' pins included). */
  private def held: Set[Int] =
    spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  test("curve: header then one row per size; one warm-up and 3 timed runs per job; pins released") {
    val before = held
    var runs = 0
    val heldDuring = Seq.newBuilder[Int]
    val out = new ByteArrayOutputStream
    Console.withOut(out) {
      curve("size_x", Seq(1, 2)) { k =>
        val d = pin(spark.range(0, 1000L * k, 1, 2).toDF())
        heldDuring += (held -- before).size
        Seq(stat("rows")(d.count()),
          sec("even_sec") { runs += 1; d.filter(col("id") % 2 === 0) })
      }
    }
    val lines = out.toString.trim.split("\n").toSeq
    assert(lines.head == "size_x,rows,even_sec")
    assert(lines.tail.map(_.split(',').take(2).mkString(",")) ==
      Seq("1,1000", "2,2000"))
    assert(lines.tail.forall(_.split(',')(2).matches("""\d+\.\d\d""")))
    assert(runs == 1 + 3 * 2)
    // the size-1 pin is gone before size 2 pins, and nothing stays after
    assert(heldDuring.result() == Seq(1, 1))
    assert((held -- before).isEmpty)
  }

  test("releasing drops a localCheckpoint's blocks, which Dataset.unpersist leaves") {
    val before = held
    val viaDataset = spark.range(0, 500, 1, 2).toDF().localCheckpoint()
    viaDataset.unpersist(blocking = true)
    val leaked = held -- before
    assert(leaked.nonEmpty)
    releasing { pin(spark.range(0, 500, 1, 2).toDF()) }
    assert(held -- before == leaked)
    // the frame's own RDD, released the way the driver does it
    viaDataset.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = true)
      case other => fail(s"localCheckpoint plan is not a LogicalRDD: $other")
    }
    assert((held -- before).isEmpty)
  }

  test("select: every phase by default, run order kept, unknown or empty names rejected") {
    val names = phases.map(_._1)
    assert(names.distinct == names)
    assert(select(None) == Right(names))
    assert(select(Some("r16, spans")) == Right(Seq("spans", "r16")))
    val typo = select(Some("r16,tyop"))
    assert(typo.left.exists(m => m.contains("tyop") && m.contains("r19")))
    assert(select(Some(" , ")).isLeft)
  }
}
