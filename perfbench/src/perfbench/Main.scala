package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Benchmark entry point; `perfbench/run.py` builds and launches it.
  *
  *   --workload star-search|corpus-build|vector-serve --seed N --seconds S --trace 0|1
  *
  * One client runs the workload's lead family as a closed loop on
  * local[nproc] for S seconds. Untraced runs then time the two other
  * families at small sizes ("side pass"), so that every end-to-end metric
  * has a value on every workload. The last stdout line is the JSON result.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, scratch: File)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", new File(need("scratch")))
    require(Workloads.names.contains(a.workload),
      s"unknown workload ${a.workload}; expected one of ${Workloads.names.mkString(", ")}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  /** The session conf `graft.Bench` uses, with Spark's scratch space kept
    * inside the benchmark's scratch directory.
    */
  def session(scratch: File): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(scratch, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(scratch, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    if (argv.contains("--selftest")) {
      val scratch = argv.sliding(2).collectFirst { case Array("--scratch", d) => new File(d) }
      sys.exit(SelfTest.run(scratch.getOrElse(new File("."))))
    }
    val args = try parse(argv) catch {
      case e: IllegalArgumentException => System.err.println(s"perfbench: ${e.getMessage}"); sys.exit(2)
    }
    val spark = session(args.scratch)
    val code = try Workloads.run(spark, args) finally spark.stop()
    sys.exit(code)
  }
}
