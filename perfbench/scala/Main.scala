package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.audit.Audit
import graft.pipeline.Runner

/** One closed-loop client in one JVM: issues one operation at a time (a
  * registry query or a pipeline day) through the program's public entry
  * points, for a fixed amount of work set in the config.
  *
  * Usage: perfbench.Main <config.json>. `run.py` writes the config and
  * reads the result file named in it; see perfbench/README.md.
  */
object Main {
  private val mapper = new ObjectMapper()

  final class Ctx(val cfg: JsonNode, val out: ObjectNode) {
    def str(k: String): String = cfg.get(k).asText
    def int(k: String): Int = cfg.get(k).asInt
    def strs(k: String): Seq[String] =
      cfg.get(k).elements.asScala.map(_.asText).toSeq
    /** The timed windows: one per registry round, one for all medallion days. */
    lazy val windows = out.putArray("windows")
  }

  def main(args: Array[String]): Unit = {
    val mainStart = Clock.ms()
    val ctx = new Ctx(mapper.readTree(new File(args(0))), mapper.createObjectNode())
    val out = ctx.out
    out.put("main_start_ms", mainStart)

    // Set-up, timed whole: the cold session start and a generic warm-up.
    val t0 = Clock.ms()
    val spark = session(ctx)
    warmUp(spark, ctx)
    out.put("session_s", (Clock.ms() - t0) / 1e3)

    val traced = ctx.cfg.get("trace").asBoolean
    // the medallion workload writes its layers under <run_dir>/layers
    val tracer =
      if (traced) Some(new Tracer(s"${ctx.str("run_dir")}/layers/bronze")) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
    }
    val spans = new Spans(spark, tracer)

    ctx.str("workload_kind") match {
      case "registry" => Registry.run(spark, ctx, spans)
      case "medallion" => Medallion.run(spark, ctx, spans)
    }

    tracer.foreach { t =>
      org.apache.spark.PerfbenchListenerBus.drain(spark.sparkContext)
      val js = out.putArray("jobs")
      t.jobRecords().foreach { j =>
        js.addObject().put("id", j.id).put("start", j.start).put("end", j.end)
          .put("tables", j.tables)
      }
    }
    val sa = out.putArray("spans")
    spans.spans.foreach { s =>
      val o = sa.addObject().put("id", s.id).put("parent", s.parent)
        .put("name", s.name).put("layer", s.layer).put("round", s.round)
        .put("op", s.op).put("start", s.start).put("end", s.end)
      val cs = o.putObject("counters")
      s.counters.toSeq.sortBy(_._1).foreach { case (k, v) => cs.put(k, v) }
    }
    out.put("peak_rss_kb", peakRssKb())
    spark.stop()
    mapper.writeValue(new File(ctx.str("result")), out)
  }

  def session(ctx: Ctx): SparkSession = {
    val n = ctx.int("nproc")
    SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .getOrCreate()
  }

  private def warmUp(spark: SparkSession, ctx: Ctx): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id) s").collect()
    val p = s"${ctx.str("run_dir")}/warmup"
    spark.range(1000).selectExpr("id", "cast(id as double) v")
      .write.mode("overwrite").parquet(p)
    spark.read.schema("id long, v double").parquet(p)
      .write.format("noop").mode("overwrite").save()
  }

  private def peakRssKb(): Long =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    catch { case _: Throwable => 0L }

  /** Records the timed interval [start, end] of `body` as one window. */
  def window(ctx: Ctx)(body: => Unit): Unit = {
    val t0 = Clock.ms()
    body
    ctx.windows.addObject().put("start", t0).put("end", Clock.ms())
  }

  def error(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator
      .nextOption().getOrElse("").take(300)
}

/** The registry workloads: each operation builds one registered query
  * and evaluates every output column into the noop sink, as `graft.Bench`
  * does. Set-up runs every query once, untimed, with its output digest
  * taken as an observed metric of that evaluation; the timed rounds then
  * run the bare queries, so no timed operation carries the check.
  */
object Registry {
  import Main.Ctx

  /** Order-independent content hash input for one column. Floating
    * values are narrowed to float first, so that last-ulp differences
    * between runs do not change the digest; maps cannot be hashed and
    * are hashed as their string form.
    */
  private def hashable(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => c.cast(FloatType)
    case t if hasMap(t) => c.cast(StringType)
    case _ => c
  }

  private def hasMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  def withDigest(df: DataFrame, obs: Observation): DataFrame = {
    // positional names: registry outputs may repeat a column name
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(named.schema.fields.toIndexedSeq.map(f =>
      hashable(col(f.name), f.dataType)): _*)
    named.observe(obs, count(lit(1)).as("rows"),
      sum(h.bitwiseAND(lit(0xffffffffL))).as("hash_sum"),
      bit_xor(h).as("hash_xor"))
  }

  def run(spark: SparkSession, ctx: Ctx, spans: Spans): Unit = {
    val dir = ctx.str("data_dir")
    val queries = graft.SparkEntry.queries

    /** One operation: build, plan, evaluate. With an observation, the
      * evaluation also records the output digest. */
    def op(name: String, sp: Spans, r: Int, id: Int, digest: Option[Observation]): Unit =
      try sp(name, "op", r, id) {
        val df = sp("build", "query", r, id) {
          val q = queries(name)(spark, dir)
          digest.fold(q)(withDigest(q, _))
        }
        // The noop write plans the query again, so forcing the plan here
        // adds a planning pass: only traced runs take it, to time planning.
        if (sp.tracer.nonEmpty) sp("plan", "plan", r, id) { df.queryExecution.executedPlan }
        sp("exec", "exec", r, id) { df.write.format("noop").mode("overwrite").save() }
      } finally {
        // free cached and checkpointed blocks between operations, as
        // graft.Bench does, so that one query's blocks do not squeeze
        // the next one's execution memory
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      }

    // Set-up: one untimed, untraced round over the same queries that checks
    // each output, so that JIT warm-up and codegen compilation do not fall
    // on whichever queries the seed puts first.
    val names = ctx.strs("queries")
    val untraced = new Spans(spark, None)
    val checks = ctx.out.putArray("checks")
    val t0 = Clock.ms()
    names.zipWithIndex.foreach { case (name, i) =>
      val rec = checks.addObject().put("name", name)
      val obs = Observation(s"digest_$i")
      val s0 = Clock.ms()
      try {
        op(name, untraced, -1, -1 - i, Some(obs))
        val m = obs.get
        rec.put("ok", true).put("rows", m("rows").asInstanceOf[Long])
          .put("hash", s"${m("hash_sum")}:${m("hash_xor")}")
      } catch {
        case e: Throwable => rec.put("ok", false).put("error", Main.error(e))
      }
      rec.put("start", s0).put("end", Clock.ms())
    }
    ctx.out.put("warmup_s", (Clock.ms() - t0) / 1e3)

    val ops = ctx.out.putArray("ops")
    var opId = 0
    for (r <- 0 until ctx.int("rounds")) Main.window(ctx) {
      names.foreach { name =>
        val id = opId
        opId += 1
        val rec = ops.addObject().put("round", r).put("op", id).put("name", name)
        val t0 = Clock.ms()
        try {
          op(name, spans, r, id, None)
          rec.put("ok", true)
        } catch {
          case e: Throwable => rec.put("ok", false).put("error", Main.error(e))
        }
        rec.put("start", t0).put("end", Clock.ms())
      }
    }
  }
}

/** The daily medallion workload. Day 1, the bulk load, runs as part of
  * set-up; each operation is then one later pipeline day over that day's
  * generated delta, with the day's logical time injected as `now`.
  */
object Medallion {
  import Main.Ctx

  val Schemas: Map[String, StructType] = Map(
    "products" -> StructType.fromDDL("id long, title string, price double, category string"),
    "carts" -> StructType.fromDDL("id long, userId long, total double, discountedTotal double"),
    "users" -> StructType.fromDDL("id long, email string, firstname string, lastname string"),
    "orders" -> StructType.fromDDL("id long, userId long, total_amount double, final_amount double"))

  private val Source = "perfbench"

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def run(spark: SparkSession, ctx: Ctx, spans: Spans): Unit = {
    val input = ctx.str("input_dir")
    val days = ctx.int("days")
    val day0 = ctx.cfg.get("day0_epoch_ms").asLong
    val layers = Paths.get(ctx.str("run_dir")).resolve("layers")
    val layout = Runner.Layout(s"$layers/bronze", s"$layers/silver", s"$layers/gold",
      s"$layers/audit")
    def now(k: Int) = new Timestamp(day0 + (k - 1) * 86400000L)
    def staged(k: Int) = Schemas.map { case (e, s) =>
      e -> spark.read.schema(s).parquet(s"$input/day$k/$e.parquet")
    }

    val t0 = Clock.ms()
    Runner.runFull(spark, staged(1), layout, Source, "day1", now(1))
    ctx.out.put("bulk_load_s", (Clock.ms() - t0) / 1e3)

    val ops = ctx.out.putArray("ops")
    val r = 0 // all days run in one timed window, as round 0
    Main.window(ctx) {
      for (k <- 2 to days) {
        val op = k - 2
        val runId = s"day$k"
        val input = staged(k)
        val bronzeBefore = dirBytes(Paths.get(layout.bronze))
        val written0 = ProcessCounters.fsBytesWritten()
        val rec = ops.addObject().put("round", r).put("op", op).put("day", k)
          .put("name", runId)
        val t0 = Clock.ms()
        try {
          if (spans.tracer.isEmpty)
            Runner.runFull(spark, input, layout, Source, runId, now(k))
          else spans(runId, "op", r, op) {
            // runFull's stage order, called stage by stage
            val log = Audit.start(runId, Source, "pipeline", now(k))
            val bronze = spans("bronze", "bronze", r, op) {
              Runner.stageBronze(spark, input, layout, Source, now(k))
            }
            spans("silver", "silver", r, op) { Runner.stageSilver(spark, layout) }
            spans("quality", "quality", r, op) { Runner.stageQuality(spark, layout) }
            spans("gold", "gold", r, op) { Runner.stageGold(spark, layout, now(k)) }
            val fetched = bronze.values.sum
            spans("audit", "audit", r, op) {
              Audit.append(spark, Seq(Audit.complete(log, fetched, fetched, 0L, now(k))),
                layout.audit)
            }
          }
          rec.put("ok", true)
        } catch {
          case e: Throwable => rec.put("ok", false).put("error", Main.error(e))
        }
        rec.put("start", t0).put("end", Clock.ms())
          .put("bytes_written", (ProcessCounters.fsBytesWritten() - written0).toDouble)
          .put("bronze_appended", (dirBytes(Paths.get(layout.bronze)) - bronzeBefore).toDouble)
      }
    }
    val sizes = ctx.out.putObject("layer_bytes")
    Seq("bronze", "silver", "gold", "audit").foreach { l =>
      sizes.put(l, dirBytes(layers.resolve(l)).toDouble)
    }
    ctx.out.put("layers_dir", layers.toString)
  }
}
