// scratch driver: run one JSON pipeline spec file end-to-end
// (`sbt "runMain graft.tools.PipelineRun <spec.json>"`) — used by
// tools/external_validate.sh and handy for ad-hoc pipeline debugging.
// Not part of the build contract.
package graft.tools

object PipelineRun {
  def main(args: Array[String]): Unit = {
    val spec = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(args(0))), "UTF-8")
    val spark = graft.Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, 8)
    val out = graft.plans.Pipeline.run(spark, spec)
    println(s"pipeline ok: ${out.df.count()} rows")
    spark.stop()
  }
}
