package mktbench

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The `catalog` workload: three query families from `graft.SparkEntry.
  * queries`, each query timed from the call into its catalog function to
  * the end of its result action. The result action is an
  * order-insensitive digest of the full result, compared with the
  * committed expected digest. */
object Catalog {

  val Families: Seq[(String, String => Boolean)] = Seq(
    "relational" -> (n => n.matches("(p\\d+|a[1-8]|w|j|j4|u1|r1|set)_.*")),
    "text" -> (n => n.startsWith("dd_") || n.startsWith("ta_")),
    "graph" -> (n => n.startsWith("g_")))

  /** Every `stride`-th query of a family, in name order, is timed: one
    * pass over whole families outlasts a benchmark run. */
  val Strides: Map[String, Int] = Map("relational" -> 8, "text" -> 11, "graph" -> 6)

  /** Seconds of measuring window per timed pass. The pass count is fixed
    * by `--seconds` alone: the JVM still speeds up from pass to pass, so
    * a count that followed the clock would make runs incomparable. */
  val PassSeconds = 10

  /** Family name -> its timed query names (all of them when `full`),
    * permuted by `seed` within the family. */
  def plan(seed: Long, full: Boolean): Seq[(String, Seq[String])] = {
    val rng = new Random(seed)
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    Families.map { case (f, in) =>
      val fam = names.filter(in)
      f -> rng.shuffle(if (full) fam else fam.indices.filter(_ % Strides(f) == 0).map(fam))
    }
  }

  /** Doubles are compared to six significant digits: the engine may sum
    * in any order. Negative zero reads as zero. */
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      when(c.isNotNull, format_string("%.5e", c.cast(DoubleType) + lit(0.0)))
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case MapType(_, vt, _) => transform_values(c, (_, v) => canon(v, vt))
    case StructType(fs) =>
      when(c.isNotNull, struct(fs.toSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _ => c
  }

  /** `count:sum` of a 64-bit hash of every canonical row. */
  def digestFrame(df: DataFrame): DataFrame = {
    val cols = df.columns.indices.map(i => s"c$i")
    val d = df.toDF(cols: _*)
    val row = struct(d.schema.fields.toSeq.map(f => canon(col(f.name), f.dataType).as(f.name)): _*)
    d.select(xxhash64(to_json(row)).as("h"))
      .agg(count(lit(1)).as("n"), sum(col("h").cast("decimal(38,0)")).as("s"))
  }

  def digestString(r: org.apache.spark.sql.Row): String =
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"

  final case class Exec(family: String, query: String, pass: Int, wallMs: Double,
                        digest: Option[String], error: Option[String],
                        constructMs: Double, planMs: Double, execStart: Double, execEnd: Double)

  /** Runs one query; with `trace`, construct, plan and execute are split
    * and tagged for the engine listener. */
  def runOne(spark: SparkSession, data: String, family: String, q: String, pass: Int,
             trace: Boolean): Exec = {
    val sc = spark.sparkContext
    val fn = graft.SparkEntry.queries(q)
    def phase(p: String): Unit = if (trace) {
      sc.setLocalProperty("mktbench.query", s"$pass:$q")
      sc.setLocalProperty("mktbench.phase", p)
    }
    val t0 = System.nanoTime()
    val t0Ms = System.currentTimeMillis().toDouble
    try {
      phase("construct")
      val df = fn(spark, data)
      val dg = digestFrame(df)
      val t1 = System.nanoTime()
      phase("plan")
      if (trace) dg.queryExecution.executedPlan
      val t2 = System.nanoTime()
      phase("execute")
      val execStart = t0Ms + (t2 - t0) / 1e6
      val d = digestString(dg.collect().head)
      val t3 = System.nanoTime()
      Exec(family, q, pass, (t3 - t0) / 1e6, Some(d), None, (t1 - t0) / 1e6, (t2 - t1) / 1e6,
        execStart, t0Ms + (t3 - t0) / 1e6)
    } catch {
      case e: Throwable =>
        val ms = (System.nanoTime() - t0) / 1e6
        Exec(family, q, pass, ms, None, Some(e.toString.take(300)), 0, 0, t0Ms, t0Ms + ms)
    } finally phase(null)
  }

  def run(spark: SparkSession, a: Args, expected: Map[String, String]): Outcome = {
    val order = plan(a.seed, full = a.record)
    val listener = new EngineListener
    if (a.trace) spark.sparkContext.addSparkListener(listener)
    // warm-up: every query once, untimed, so the timed passes see warm
    // JIT, codegen and file caches
    val warm = order.flatMap { case (f, qs) => qs.map(q => runOne(spark, a.data, f, q, 0, trace = false)) }
    listener.awaitQuiet(); listener.clear()
    val timedStart = System.currentTimeMillis()
    val setupS = (timedStart - a.launchMs) / 1000.0
    val all = (1 to math.max(1, a.seconds / PassSeconds)).map { p =>
      order.flatMap { case (f, qs) => qs.map(q => runOne(spark, a.data, f, q, p, a.trace)) }
    }
    val flat = all.flatten
    listener.awaitQuiet()

    def bad(e: Exec): Boolean = e.error.nonEmpty || !expected.get(e.query).contains(e.digest.get)
    val failures = flat.filter(bad)
    // each query's best pass (noise only adds time); percentiles and
    // sums are taken over these
    val best = flat.groupBy(_.query).map { case (q, es) => q -> es.map(_.wallMs).min }
    val walls = best.values.toSeq
    val famWall = order.map { case (f, qs) => f -> qs.map(best).sum / 1000 }.toMap

    val spans = if (!a.trace) Seq.empty[Span] else flat.flatMap { e =>
      val tr = s"${e.pass}:${e.query}"
      val st = e.execStart - e.planMs - e.constructMs
      Seq(Span("query", tr, "", st, e.execEnd, Map("family" -> e.family)),
        Span("construct", tr, "query", st, st + e.constructMs),
        Span("plan", tr, "query", st + e.constructMs, e.execStart),
        Span("execute", tr, "query", e.execStart, e.execEnd)) ++
        listener.stages.asScala.toSeq.filter(_.query == tr).map(s =>
          Span("stage", tr, if (s.phase == "execute") "execute" else s.phase, s.startMs, s.endMs,
            Map("stage_id" -> s.id, "tasks" -> s.tasks)))
    }
    val layers: Map[String, Double] = if (!a.trace) Map.empty else order.flatMap { case (f, _) =>
      val es = flat.filter(_.family == f)
      val jobs = listener.jobs.asScala.toSeq
      val keys = es.map(e => s"${e.pass}:${e.query}").toSet
      Seq(s"queries.$f.construct_s" -> es.map(_.constructMs).sum / 1000 / all.size,
        s"queries.$f.construct_jobs" -> jobs.count(j => keys(j.query) && j.phase == "construct")
          .toDouble / all.size) ++
        EngineRollup(listener, es.map(e => s"${e.pass}:${e.query}" -> (e.execStart, e.execEnd)).toMap,
          Runtime.getRuntime.availableProcessors(), es.map(_.planMs).sum)
          .map { case (k, v) => s"engine.$f.$k" -> (if (k == "task_skew" || k == "core_busy_share" ||
            k == "tasks_per_stage") v else v / all.size) }
    }.toMap

    Outcome(
      attempted = flat.size, failed = failures.size,
      setupS = setupS,
      e2e = Map(
        "latency_p50_ms" -> Stats.median(walls),
        "latency_p95_ms" -> Stats.pct(walls, 0.95),
        "ops_per_s" -> walls.size / (walls.sum / 1000)),
      named = Map("catalog_wall_s" -> walls.sum / 1000,
        "relational_wall_s" -> famWall("relational"), "text_wall_s" -> famWall("text"),
        "graph_wall_s" -> famWall("graph")),
      layers = layers,
      spans = spans,
      extra = Map(
        "passes" -> all.size,
        "warmup_failures" -> warm.count(bad).toLong,
        "failures" -> failures.map(e => Map("query" -> e.query, "pass" -> e.pass,
          "error" -> e.error, "digest" -> e.digest, "expected" -> expected.get(e.query))),
        "digests" -> warm.map(e => e.query -> e.digest.getOrElse("")).toMap,
        "query_wall_ms" -> best,
        "pass_wall_ms" -> flat.groupBy(_.query).map { case (q, es) => q -> es.sortBy(_.pass).map(_.wallMs) },
        "self_time_ms" -> Stats.selfTimeMs(spans)))
  }
}
