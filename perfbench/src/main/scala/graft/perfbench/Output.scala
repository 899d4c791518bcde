package graft.perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper

/** The metrics the benchmark declares (the same names and units as
  * BENCHMARK.json): every run prints each end-to-end metric, every
  * traced run each per-layer metric. */
object Catalog {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "request_p50_ms" -> "ms",
    "requests_per_s" -> "1/s",
    "store_bytes_per_point" -> "B/point",
    "heap_retained_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "server.decode_us" -> "us", "server.encode_us" -> "us", "server.resp_bytes" -> "B",
    "server.core_ms" -> "ms", "server.wire_ms" -> "ms", "server.driver_ms" -> "ms",
    "parser.parse_us" -> "us", "parser.plan_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.job_wall_ms" -> "ms", "spark.task_ms" -> "ms", "spark.task_wait_ms" -> "ms",
    "spark.input_mb" -> "MB", "spark.shuffle_mb" -> "MB", "spark.output_mb" -> "MB") ++
    Trace.Modules.flatMap(m => Seq(s"spark.jobs.$m" -> "count", s"spark.job_ms.$m" -> "ms")) ++ Seq(
    "streaming.bytes_written_per_point" -> "B/point", "streaming.files_per_insert" -> "count",
    "streaming.store_files_end" -> "count", "streaming.catalog_rows_end" -> "count",
    "streaming.compact_ms" -> "ms") ++
    Analytics.Entries.flatMap(e => Seq(s"analytics.${e}_s" -> "s", s"analytics.${e}_jobs" -> "count",
      s"analytics.${e}_shuffle_mb" -> "MB")) ++ Seq(
    "spark.jobs.llm" -> "count", "spark.job_ms.llm" -> "ms") ++
    Kernels.Exprs.map { case (n, _) => s"functions.${n}_ns_per_elem" -> "ns" } ++ Seq(
    "bench.trace_overhead_pct" -> "%")

  def declared(trace: Boolean): Seq[(String, String)] = if (trace) PerLayer else EndToEnd
}

/** Metric sink: name → (value, unit, samples). */
final class Out {
  private val m = mutable.LinkedHashMap.empty[String, (Double, String, Int)]

  def add(name: String, value: Double, unit: String, samples: Int): Unit = {
    require(!value.isNaN && !value.isInfinite, s"$name = $value")
    m(name) = (value, unit, samples)
  }

  /** Every declared metric of the run's kind must have been measured,
    * in its declared unit. */
  def missing(trace: Boolean): Seq[String] = Catalog.declared(trace).collect {
    case (n, u) if !m.get(n).exists(_._2 == u) => n
  }

  /** The result line: every measured metric with its unit and sample
    * count. */
  def json(attempted: Long, failed: Long): String = {
    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("correct", failed == 0 && attempted > 0)
    root.put("attempted", attempted)
    root.put("failed", failed)
    val ms = root.putObject("metrics")
    m.foreach { case (k, (v, u, n)) =>
      ms.putObject(k).put("value", v).put("unit", u).put("samples", n)
    }
    mapper.writeValueAsString(root)
  }

  def print(attempted: Long, failed: Long, trace: Boolean): Unit = {
    m.foreach { case (k, (v, u, n)) => println(f"  $k%-34s $v%14.4f $u%-9s n=$n") }
    val gaps = missing(trace)
    require(gaps.isEmpty, s"declared metrics not measured: ${gaps.mkString(", ")}")
    println("PERFBENCH_RESULT " + json(attempted, failed))
  }
}
