package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** Benchmark runner: one workload, one seed, one run.
  *
  * {{{
  * Main --workload <lookup|cidr|ingest_serve> --seed <n> --seconds <s>
  *      --trace <0|1> --spec <BENCHMARK.json> --work <dir> --out <dir>
  * }}}
  *
  * Prints a context line, then as its last line the result object with
  * the metrics `spec` lists: `end_to_end` untraced, `per_layer` traced.
  * Everything it writes goes under `work` (store copies, Spark scratch)
  * and `out` (run record, spans, self-time table).
  */
object Main {
  val Workloads: Map[String, Run => Unit] = Map(
    "lookup" -> graft.perfbench.Workloads.lookup,
    "cidr" -> graft.perfbench.Workloads.cidr,
    "ingest_serve" -> graft.perfbench.Workloads.ingestServe)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = new File(opts("work"))
    val out = new File(opts("out"))
    out.mkdirs()
    val mapper = new ObjectMapper()
    val spec = mapper.readTree(new File(opts("spec")))
    val wanted = spec.get(if (trace) "per_layer" else "end_to_end").elements.asScala
      .map(m => m.get("name").asText -> m.get("unit").asText).toSeq

    val sampler = new Probes.LoadSampler
    val calBefore = Probes.calSec()
    val spark = graft.Graft.configure(SparkSession.builder()
        .appName("perfbench").master(s"local[${graft.perfbench.Workloads.Cores}]")
        .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
        .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val counters = new Probes.SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val run = new Run(spark, seed, seconds, trace, work, out, counters)
    run.log("session up")
    try Workloads(workload)(run)
    catch {
      case e: Throwable =>
        run.problem(s"workload aborted: $e")
        e.printStackTrace()
    }
    val calAfter = Probes.calSec()
    val (extMean, extMax) = sampler.finish()

    val ctx = run.context
    ctx("workload") = workload
    ctx("why") = spec.get("workloads").elements.asScala
      .find(_.get("name").asText == workload).map(_.get("why").asText).getOrElse("")
    ctx("seed") = seed
    ctx("seconds") = seconds
    ctx("trace") = trace
    ctx("nproc") = Runtime.getRuntime.availableProcessors
    ctx("spark_cores") = graft.perfbench.Workloads.Cores
    ctx("spark_version") = spark.version
    ctx("java_version") = System.getProperty("java.version")
    ctx("jvm_heap_max_mb") = Runtime.getRuntime.maxMemory / 1048576
    ctx("cal_sec") = Seq(calBefore, calAfter)
    ctx("ext_cpu_mean") = extMean
    ctx("ext_cpu_max") = extMax
    ctx("flush_policy") = "Spark/Hadoop defaults (no fsync) on both commits compared"
    ctx("problems") = run.problems.toSeq
    run.log("stopping")
    spark.stop()

    val root = mapper.createObjectNode()
    val m = root.putObject("metrics")
    run.metrics.foreach { case (k, (v, u)) => m.putObject(k).put("value", v).put("unit", u) }
    val c = root.putObject("context")
    ctx.foreach { case (k, v) =>
      c.set[JsonNode](k, mapper.valueToTree[JsonNode](toJava(v))) }
    Files.write(new File(out, "run.json").toPath,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    if (trace)
      Files.write(new File(out, "spans.jsonl").toPath,
        run.spans.mkString("", "\n", "\n").getBytes(UTF_8))

    // A workload that does not reach a layer reports its metrics as 0.
    val missing = wanted.filterNot { case (k, _) => run.metrics.contains(k) }
    if (!trace && missing.nonEmpty)
      run.problem(s"end-to-end metrics not measured: ${missing.map(_._1).mkString(", ")}")
    val result = mapper.createObjectNode()
    val bad = wanted.filter { case (k, _) =>
      run.metrics.get(k).exists { case (v, _) => v.isNaN || v.isInfinite } }
    bad.foreach { case (k, _) => run.problem(s"metric $k is not a finite number") }
    result.put("correct", run.problems.isEmpty && run.failed == 0)
    result.put("attempted", math.max(1L, run.attempted))
    result.put("failed", run.failed)
    val rm = result.putObject("metrics")
    wanted.foreach { case (k, unit) =>
      val v = run.metrics.get(k).map(_._1).filter(x => !x.isNaN && !x.isInfinite)
        .getOrElse(0.0)
      rm.putObject(k).put("value", v).put("unit", unit)
    }
    println(mapper.writeValueAsString(c))
    println(mapper.writeValueAsString(result))
    System.out.flush()
    System.exit(0)
  }

  private def toJava(v: Any): Any = v match {
    case s: Seq[_] => s.map(toJava).asJava
    case other => other
  }
}
