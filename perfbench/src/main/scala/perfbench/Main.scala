package perfbench

import graft.GraftSession
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark process entry. Runs one workload and writes its result as a
  * JSON object to `--out`; `perfbench/run.py` builds this program, starts
  * it, adds the checks that need DuckDB and prints the final line.
  *
  * {{{
  * perfbench.Main --workload steady_delivery --seed 1 --seconds 10 \
  *   --trace 0 --work .bench_build/work --out result.json [--cores 4]
  * }}}
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, out: Path, cores: Int)

  /** What one run found: the end-to-end figures (always measured with
    * tracing off), the per-layer figures (traced runs), the operation
    * counts and every problem the output checks met.
    */
  final case class Result(
      attempted: Long,
      failed: Long,
      problems: Seq[String],
      e2e: Map[String, Double],
      layers: Map[String, Double],
      notes: Map[String, String])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val cores = m.get("cores").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      Paths.get(need("out")).toAbsolutePath, cores)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val run: (Ctx) => Result = o.workload match {
      case "steady_delivery" => Workloads.steady
      case "curation_batch" => Workloads.curation
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Files.createDirectories(o.work)
    val spark = GraftSession.builder(o.cores.toString)
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", o.work.resolve("ck").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(o, spark)
    val res =
      try run(ctx)
      finally {
        ctx.tracer.writeJson(o.work.resolve(s"trace-${o.workload}-${o.seed}.json"))
      }
    Files.writeString(o.out, Json.obj(Seq(
      "attempted" -> res.attempted,
      "failed" -> res.failed,
      "problems" -> res.problems,
      "e2e" -> res.e2e,
      "layers" -> res.layers,
      "notes" -> res.notes,
      "cores" -> o.cores)))
    spark.stop()
  }
}

/** Shared state of one run. */
final class Ctx(val o: Main.Opts, val spark: SparkSession) {
  val tracer = new Tracer
  /** Seconds from JVM start until the session is ready. */
  val sessionSeconds: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
  private var n = 0
  /** A fresh directory under the run's work directory. */
  def dir(name: String): String = synchronized {
    n += 1
    val p = o.work.resolve(s"$name-$n")
    Files.createDirectories(p.getParent)
    p.toString
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1))
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
