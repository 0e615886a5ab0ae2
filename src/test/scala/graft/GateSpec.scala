package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.sys.process._

/** The gate sweep as a test: every SparkEntry gate at sf0.001 is dumped
  * through [[Verify.dump]] and checked by the DuckDB oracle compare
  * (`scripts/compare_oracle.py`), no gate may plan a CartesianProduct
  * or BroadcastNestedLoopJoin, and the ANN probes must prune their stores
  * by partition.
  */
class GateSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"
  private val outDir = "target/gatespec-out"

  private lazy val plans: Map[String, String] =
    Verify.dump(spark, sfDir, outDir, SparkEntry.queries.keys.toSeq.sorted)

  test("all 99 gates match their DuckDB oracle at sf0.001") {
    assert(SparkEntry.queries.size == 99)
    assert(plans.size == 99, s"failed: ${SparkEntry.queries.keySet -- plans.keySet}")
    val out = new StringBuilder
    val log = ProcessLogger(l => out.append(l).append('\n'), l => out.append(l).append('\n'))
    val rc = Seq("python3", "scripts/compare_oracle.py", sfDir, outDir) ! log
    assert(rc == 0 && out.toString.contains("99/99 queries match"), out.toString)
  }

  test("no gate plans a CartesianProduct or BroadcastNestedLoopJoin") {
    val flagged = plans.collect {
      case (name, p) if p.contains("CartesianProduct") ||
        p.contains("BroadcastNestedLoopJoin") => name
    }
    assert(flagged.isEmpty, s"flagged: ${flagged.mkString(", ")}")
  }

  test("ann_lsh and ann_ivf probe only their bucket and list partitions") {
    val filters = "PartitionFilters: \\[([^\\]]*)".r
    Seq("ann_lsh" -> "bucket#", "ann_ivf" -> "list#").foreach { case (name, part) =>
      val pf = filters.findAllMatchIn(plans(name)).map(_.group(1)).toSeq
      assert(pf.exists(_.contains(part)), s"$name scans with PartitionFilters ${pf.mkString("; ")}")
    }
  }
}
