package graft

import java.lang.management.ManagementFactory
import java.nio.file.Files
import java.util.concurrent.TimeUnit
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.Kernels

/** The group reduce streams a task's partition through Spark's external
  * sorter, so a partition larger than the task's execution memory spills
  * to disk instead of running the JVM out of heap. Run in a child JVM
  * whose Spark memory is capped (`spark.testing.memory`), one task
  * reducing the whole cloud. */
class KernelSpillSpec extends AnyFunSuite {

  test("a halo-block partition larger than the execution memory spills and reduces every group once") {
    val rt = ManagementFactory.getRuntimeMXBean
    val opens = rt.getInputArguments.toArray(Array.empty[String]).filter(_.startsWith("--add-opens"))
    val java = s"${System.getProperty("java.home")}/bin/java"
    val cmd = Seq(java, "-Xmx512m") ++ opens ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.KernelSpillSpec")
    val log = Files.createTempFile("kernelspill", ".log").toFile
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).redirectOutput(log).start()
    val finished = p.waitFor(300, TimeUnit.SECONDS)
    if (!finished) p.destroyForcibly()
    val out = scala.io.Source.fromFile(log).getLines().toSeq
    log.delete()
    val result = out.filter(_.startsWith("RESULT "))
    assert(finished && p.exitValue() == 0 && result.size == 1, out.takeRight(40).mkString("\n"))
    val Array(_, groups, rows, spilled) = result.head.split(' ')
    assert(groups.toLong === KernelSpillSpec.Groups && rows.toLong === KernelSpillSpec.Rows)
    assert(spilled.toLong > 0, "the sorter spilled")
  }
}

object KernelSpillSpec extends AdaptiveSparkPlanHelper {
  val Rows = 1200000L
  val Groups = 3000L

  /** Each group's key, row count and sum of ids; keys arrive ascending. */
  private final class Tally extends Kernels.GroupKernel {
    private var last = Long.MinValue
    def rounds: Long = 1
    def apply(key: Long, rows: Array[InternalRow], certified: SQLMetric): Iterator[InternalRow] = {
      require(key > last && rows.forall(_.getLong(0) == key), s"group $key out of order or mixed")
      last = key
      Iterator.single(new GenericInternalRow(Array[Any](key, rows.length.toLong, rows.map(_.getLong(1)).sum)))
    }
  }

  /** The child JVM: 1.2M rows of ~70 bytes (~85 MB in the sorter) in one
    * task with 24 MiB of execution and storage memory; prints the groups,
    * rows and bytes spilled. */
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false")
      .config("spark.testing.memory", (40L << 20).toString)
      .config("spark.testing.reservedMemory", "0")
      .config("spark.sql.shuffle.partitions", "1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rows = spark.range(0, Rows, 1, 4).select((col("id") % Groups).as("__blk"), col("id"),
      (col("id") * 0.5).as("a"), (col("id") * 0.25).as("b"), (col("id") * 0.125).as("c"),
      (col("id") + 7).as("d"), (col("id") * 3).as("e"))
    val out = StructType(Seq("key", "n", "ids").map(StructField(_, LongType, nullable = false)))
    val reduced = Kernels.groupReduce(rows, "__blk", clustered = true, out, new Tally)
    val got = reduced.collect()
    val ok = got.length == Groups && got.forall { r =>
      val k = r.getLong(0); val n = (Rows - 1 - k) / Groups + 1
      r.getLong(1) == n && r.getLong(2) == n * k + Groups * n * (n - 1) / 2
    }
    require(ok, "a group's rows were lost or duplicated")
    val spilled = collect(reduced.queryExecution.executedPlan) {
      case e: Kernels.GroupReduceExec => e.metrics("spillSize").value
    }.sum
    println(s"RESULT ${got.length} ${got.map(_.getLong(1)).sum} $spilled")
    spark.stop()
  }
}
