package mktbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Args(mode: String, work: String, data: String, seed: Long, seconds: Int,
                      trace: Boolean, launchMs: Long, out: String, python: String,
                      gen: String, digests: String, record: Boolean)

/** What a workload run hands back to `run.py`. `e2e` holds the
  * end-to-end metrics every workload reports, `named` the
  * workload-specific ones, `layers` the traced per-layer metrics. */
final case class Outcome(attempted: Long, failed: Long, setupS: Double,
                         e2e: Map[String, Double], named: Map[String, Double],
                         layers: Map[String, Double], spans: Seq[Span],
                         extra: Map[String, Any])

/** JVM side of the benchmark: builds its session only through
  * `graft.GraftSession.builder`, runs one workload and writes the raw
  * result as JSON for `run.py`.
  *
  *   mktbench.Main --mode catalog|market_replay --work DIR
  *     --data DIR --seed N --seconds S --trace 0|1 --launch-ms MS --out FILE
  *     --python EXE --gen market_gen.py --digests FILE [--record]
  */
object Main {
  def parse(argv: Array[String]): Args = {
    val m = argv.filterNot(_ == "--record").grouped(2)
      .collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("mode"), m("work"), m.getOrElse("data", ""), m("seed").toLong, m("seconds").toInt,
      m("trace") == "1", m("launch-ms").toLong, m("out"), m.getOrElse("python", "python3"),
      m.getOrElse("gen", ""), m.getOrElse("digests", ""), argv.contains("--record"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val load0 = Stats.loadAvg1()
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = graft.GraftSession.builder(nproc.toString).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val confs = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" }
    val expected: Map[String, String] =
      if (a.digests.isEmpty || a.record || !Files.exists(Paths.get(a.digests))) Map.empty
      else new com.fasterxml.jackson.databind.ObjectMapper().readTree(Files.readString(Paths.get(a.digests)))
        .get("digests").fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
    val o = a.mode match {
      case "catalog"       => Catalog.run(spark, a, expected)
      case "market_replay" => Market.replay(spark, a)
      case other           => throw new IllegalArgumentException(s"unknown mode $other")
    }
    val stamp = Map(
      "load1_start" -> load0, "load1_end" -> Stats.loadAvg1(), "nproc" -> nproc,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory, "seed" -> a.seed,
      "seconds" -> a.seconds, "trace" -> a.trace, "confs" -> confs)
    Json.write(Paths.get(a.out), Map(
      "attempted" -> o.attempted, "failed" -> o.failed, "setup_s" -> o.setupS,
      "e2e" -> o.e2e, "named" -> o.named, "layers" -> o.layers, "stamp" -> stamp,
      "extra" -> o.extra, "spans" -> o.spans))
    spark.stop()
  }
}
