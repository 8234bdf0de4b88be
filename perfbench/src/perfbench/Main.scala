package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Row, SparkSession}
import graft.{Engine, Sessions}
import graft.operators.TransformStep
import graft.operators.TransformStep._
import graft.plans.PipelineJson

/** Load generator and timer for one benchmark run.
  *
  * Reads the run plan written by `run.py` (inputs, schedule, expected
  * outputs), sets up a `local[2]` session through [[graft.Sessions]]
  * several times (each set-up is timed), runs the measured loop and
  * writes raw per-operation records to `<out>/result.json`. It calls
  * graft only through its public entry points: [[graft.Engine]] for
  * the interactive workload, [[graft.plans.PipelineJson]] for the
  * curation pipeline.
  *
  * Whatever an operation leaves cached is recorded and then dropped,
  * outside the timed window, so that every measured operation pays its
  * full cost rather than reading an earlier one's cached blocks.
  *
  * With tracing on, the measured loop runs as four half-length passes,
  * untraced and traced in turn; the traced passes attach a [[Recorder]]
  * and record a span around each call into a graft layer, and the
  * difference between the two kinds of pass is the tracing overhead.
  *
  * Usage: Main <plan.json> <seconds> <trace 0|1>
  */
object Main {
  private val mapper = new ObjectMapper()
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  /** Timed set-ups per run; `setup_s` is their median. */
  val Setups = 3
  /** Epoch milliseconds with sub-millisecond resolution, aligned with
    * the listener's epoch-millisecond event times. */
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  final case class OpRec(
      id: String, kind: String, variant: String, traced: Boolean,
      due: Double, sent: Double, start: Double, end: Double,
      ok: Boolean, err: String, rowsIn: Long, outPath: String,
      gcMs: Long, compiles: Long, cachedMb: Double)

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new String(Files.readAllBytes(Paths.get(args(0))), StandardCharsets.UTF_8))
    val seconds = args(1).toDouble
    val trace = args(2) == "1"
    val workload = plan.path("workload").asText
    val out = plan.path("out").asText
    val w: Workload = workload match {
      case "interactive_api" => new Interactive(plan, out)
      case "curation_pipeline" => new Pipeline(plan, out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up: session start, fixture load and warm-up, timed and
    // repeated; the last session is the one measured. After the first
    // set-up an untimed conditioning pass brings the JIT to the steady
    // state the measured loop needs; it runs in a session that is then
    // stopped, so per-session first-call costs still land in the later
    // set-ups or in the measured loop.
    var spark: SparkSession = null
    val setupS = (1 to Setups).map { k =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Sessions.local(2)
      spark.sparkContext.setLogLevel("ERROR")
      val t1 = System.nanoTime()
      w.setup(spark, s"w$k")
      val t2 = System.nanoTime()
      release(spark)
      if (k == 1) {
        w.condition(spark)
        println(f"[harness] conditioning ${(System.nanoTime() - t2) / 1e9}%.2f s")
      }
      println(f"[harness] setup $k: session ${(t1 - t0) / 1e9}%.2f s, warm-up ${(t2 - t1) / 1e9}%.2f s")
      (t2 - t0) / 1e9
    }

    val recorder = new Recorder
    val spans = new ConcurrentLinkedQueue[Map[String, Any]]()
    val ops = new ConcurrentLinkedQueue[OpRec]()
    val blocks = if (trace) Seq(false, true, false, true) else Seq(false)
    val passS = if (trace) seconds / 2 else seconds
    val loopStart = nowMs()
    blocks.zipWithIndex.foreach { case (traced, b) =>
      if (traced) {
        // events of the untraced block must not reach the recorder
        org.apache.spark.sql.perfbench.Bridge.drain(spark.sparkContext)
        spark.sparkContext.addSparkListener(recorder)
        spark.listenerManager.register(recorder)
        recorder.active = true
      }
      w.run(spark, b, passS, traced, ops, spans)
      if (traced) {
        org.apache.spark.sql.perfbench.Bridge.drain(spark.sparkContext)
        recorder.active = false
        spark.listenerManager.unregister(recorder)
        spark.sparkContext.removeSparkListener(recorder)
      }
    }
    val loopS = (nowMs() - loopStart) / 1e3

    System.gc(); System.gc()
    val liveHeapMb =
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val result = Map(
      "workload" -> workload, "setup_s" -> setupS, "loop_s" -> loopS,
      "live_heap_mb" -> liveHeapMb,
      "slots" -> 2,
      "codegen_mean_ms" -> CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean,
      "ops" -> ops.asScala.toSeq.map(o => Map(
        "id" -> o.id, "kind" -> o.kind, "variant" -> o.variant, "traced" -> o.traced,
        "due" -> o.due, "sent" -> o.sent, "start" -> o.start, "end" -> o.end,
        "ok" -> o.ok, "err" -> o.err, "rows_in" -> o.rowsIn, "out_path" -> o.outPath,
        "gc_ms" -> o.gcMs, "compiles" -> o.compiles, "cached_mb" -> o.cachedMb)),
      "spans" -> spans.asScala.toSeq,
      "trace" -> (if (trace) recorder.records else Map.empty))
    Files.write(Paths.get(out, "result.json"), Json.write(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Megabytes of cached blocks the session holds now. */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** Drop every cached Dataset and persisted RDD; returns the megabytes
    * that were cached. */
  def release(spark: SparkSession): Double = {
    val mb = cachedMb(spark)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    mb
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Run `body` as operation `id`: its jobs carry the id as job group,
    * and a traced operation gets a span named `layer` around the call. */
  def timed(spark: SparkSession, id: String, layer: String, traced: Boolean,
      spans: ConcurrentLinkedQueue[Map[String, Any]])(body: => Unit)
      : (Double, Double, Boolean, String, Long, Long) = {
    val sc = spark.sparkContext
    sc.setJobGroup(id, layer, interruptOnCancel = false)
    val gc0 = gcMs()
    val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val start = nowMs()
    val (ok, err) =
      try { body; (true, "") }
      catch { case e: Exception => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)) }
    val end = nowMs()
    sc.clearJobGroup()
    if (traced) spans.add(Map("op" -> id, "name" -> layer, "start" -> start, "end" -> end))
    (start, end, ok, err, gcMs() - gc0, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0)
  }

  def sleepUntil(ms: Double): Unit = {
    var left = ms - nowMs()
    while (left > 0) {
      if (left > 2) Thread.sleep((left - 1).toLong)
      else Thread.onSpinWait()
      left = ms - nowMs()
    }
  }

  def strs(n: JsonNode): Seq[String] = n.elements.asScala.map(_.asText).toSeq
}

trait Workload {
  /** The timed warm-up of a fresh session. */
  def setup(spark: SparkSession, tag: String): Unit
  /** Untimed JIT conditioning, run once. */
  def condition(spark: SparkSession): Unit
  /** Run measured pass `b` for `seconds`. */
  def run(spark: SparkSession, b: Int, seconds: Double, traced: Boolean,
      ops: ConcurrentLinkedQueue[Main.OpRec],
      spans: ConcurrentLinkedQueue[Map[String, Any]]): Unit
}

/** Closed loop over one pipeline document: the next run starts when
  * the previous one (and its output check) has finished. */
final class Pipeline(plan: JsonNode, out: String) extends Workload {
  import Main._
  private val dag = plan.path("dag").asText
  private val rowsIn = plan.path("rows_in").asLong
  private val exactNode = plan.path("exact_node").asText("")
  private val exactKept = plan.path("exact_kept").asLong(-1L)
  private var seq = 0

  /** One run over the measured input: the first run of a fresh session. */
  def setup(spark: SparkSession, tag: String): Unit =
    PipelineJson.run(spark, dag.replace("{OUT}", s"$out/$tag"))

  def condition(spark: SparkSession): Unit =
    PipelineJson.run(spark, dag.replace("{OUT}", s"$out/condition"))

  def run(spark: SparkSession, b: Int, seconds: Double, traced: Boolean,
      ops: ConcurrentLinkedQueue[OpRec],
      spans: ConcurrentLinkedQueue[Map[String, Any]]): Unit = {
    val blockEnd = nowMs() + seconds * 1000
    var ready = nowMs()
    while (ready < blockEnd) {
      val id = s"p$b-op$seq"
      seq += 1
      val outPath = s"$out/$id"
      val json = dag.replace("{OUT}", outPath)
      if (traced) {
        val p0 = nowMs()
        PipelineJson.parse(json)
        spans.add(Map("op" -> id, "name" -> "plans.parse", "start" -> p0, "end" -> nowMs()))
      }
      val sent = nowMs()
      var result: graft.plans.PipelineDag.RunResult = null
      val (start, end, ok0, err0, gc, cg) =
        timed(spark, id, "plans.run", traced, spans) { result = PipelineJson.run(spark, json) }
      var (ok, err) = (ok0, err0)
      if (ok && exactNode.nonEmpty) {
        spark.sparkContext.setJobGroup(s"$id/check", "check", interruptOnCancel = false)
        val kept = result.outputs(exactNode).count()
        spark.sparkContext.clearJobGroup()
        if (kept != exactKept) { ok = false; err = s"exact_dedup kept $kept, planted truth $exactKept" }
      }
      val cached = release(spark)
      ops.add(OpRec(id, "pipeline", "", traced, ready, sent, start, end, ok, err,
        rowsIn, outPath, gc, cg, cached))
      ready = nowMs()
    }
  }
}

/** Open loop over the six `graft.Engine` calls on a fixed, seeded
  * arrival schedule; at most two calls are outstanding, later arrivals
  * queue in the generator. Each call is timed from its due time. As
  * calls overlap, each one records what the session holds cached when
  * it ends, and the cache is dropped only when a pass ends. */
final class Interactive(plan: JsonNode, out: String) extends Workload {
  import Main._
  private val calls = plan.path("calls").elements.asScala.toIndexedSeq
  private val warm = plan.path("warmup").elements.asScala.toIndexedSeq
  private val conditioning = plan.path("condition").elements.asScala.toIndexedSeq
  private val expect = plan.path("expect")

  def setup(spark: SparkSession, tag: String): Unit = calls(spark, warm, tag)

  def condition(spark: SparkSession): Unit = calls(spark, conditioning, "condition")

  private def calls(spark: SparkSession, cs: Seq[JsonNode], tag: String): Unit =
    cs.zipWithIndex.foreach { case (c, i) =>
      val msg = call(spark, c, s"$out/export/$tag-$i")
      if (msg.nonEmpty) throw new IllegalStateException(s"warm-up ${c.path("kind").asText}: $msg")
    }

  def run(spark: SparkSession, b: Int, seconds: Double, traced: Boolean,
      ops: ConcurrentLinkedQueue[OpRec],
      spans: ConcurrentLinkedQueue[Map[String, Any]]): Unit = {
    val pool = Executors.newFixedThreadPool(2)
    val base = nowMs()
    calls.filter(_.path("due_ms").asDouble < seconds * 1000).foreach { c =>
      val due = base + c.path("due_ms").asDouble
      sleepUntil(due)
      val sent = nowMs()
      pool.submit(new Runnable {
        def run(): Unit = {
          val id = s"p$b-c${c.path("seq").asInt}"
          val kind = c.path("kind").asText
          val outPath = if (kind == "export") s"$out/export/$id" else ""
          var msg = ""
          val (start, end, ok, err, gc, cg) =
            timed(spark, id, s"engine.$kind", traced, spans) { msg = call(spark, c, outPath) }
          ops.add(OpRec(id, kind, c.path("variant").asText, traced, due, sent, start, end,
            ok && msg.isEmpty, if (ok) msg else err, c.path("rows_in").asLong, outPath, gc, cg,
            cachedMb(spark)))
        }
      })
    }
    pool.shutdown()
    pool.awaitTermination(1, TimeUnit.HOURS)
    release(spark)
  }

  /** One engine call, including the materialisation its caller would
    * do; returns "" when the output matches the expectation. */
  private def call(spark: SparkSession, c: JsonNode, outPath: String): String = {
    val a = c.path("args")
    val exp = expect.path(c.path("variant").asText)
    c.path("kind").asText match {
      case "preview" =>
        val p = Engine.previewFile(spark, a.path("path").asText, a.path("format").asText,
          limit = a.path("limit").asInt, orderBy = strs(a.path("order_by")))
        val rows = p.rows.map(Canon.row)
        if (p.totalCount != exp.path("total").asLong) s"total ${p.totalCount} != ${exp.path("total").asLong}"
        else if (rows != strs(exp.path("rows"))) "preview rows differ from the twin"
        else ""
      case "infer_schema" =>
        val cols = Engine.inferSchema(spark, a.path("path").asText, a.path("format").asText)
          .map(_._1).sorted
        if (cols != strs(exp.path("columns"))) s"columns ${cols.mkString(",")}" else ""
      case "execute_sql" =>
        val sources = a.path("sources").properties.asScala.map { e =>
          e.getKey -> (e.getValue.get(0).asText, e.getValue.get(1).asText)
        }.toMap
        val rows = Engine.executeSql(spark, a.path("sql").asText, sources).collect().toSeq.map(Canon.row)
        if (rows != strs(exp.path("rows"))) "sql rows differ from the twin" else ""
      case "apply_transforms" =>
        val rows = Engine.applyTransforms(spark, a.path("path").asText, a.path("format").asText,
          steps(a.path("steps"))).limit(200).collect()
        val want = math.min(200L, exp.path("total").asLong)
        val known = strs(exp.path("hashes")).toSet
        if (rows.length != want) s"collected ${rows.length} rows, want $want"
        else if (!rows.forall(r => known.contains(Canon.hash(Canon.row(r))))) "a collected row is not in the twin"
        else ""
      case "quality_score" =>
        val q = Engine.dataQualityScore(spark, a.path("path").asText, a.path("format").asText)
        val cols = exp.path("columns")
        if (q.totalRows != exp.path("total").asLong) s"total_rows ${q.totalRows}"
        else if (q.columnCount != cols.size) s"column_count ${q.columnCount}"
        else q.details.collectFirst {
          case (name, (nullRate, uniq, _)) if !cols.has(name) ||
              math.abs(nullRate - cols.path(name).get(0).asDouble) > 1e-9 ||
              math.abs(uniq - cols.path(name).get(1).asDouble) > 1e-9 => s"column $name differs"
        }.getOrElse("")
      case "export" =>
        Engine.exportToFile(spark, a.path("path").asText, a.path("format").asText,
          steps(a.path("steps")), outPath, "csv")
        ""
      case other => throw new IllegalArgumentException(s"unknown call $other")
    }
  }

  private def steps(n: JsonNode): Seq[TransformStep] = n.elements.asScala.map { s =>
    s.path("op").asText match {
      case "trim_whitespace" => TrimWhitespace(strs(s.path("columns")))
      case "filter_rows" => FilterRows(s.path("expression").asText)
      case "add_derived_column" => AddDerivedColumn(s.path("name").asText, s.path("expression").asText)
      case "cast_type" => CastType(s.path("column").asText, s.path("target_type").asText)
      case "replace_text" => ReplaceText(s.path("column").asText, s.path("find").asText, s.path("replace").asText)
      case other => throw new IllegalArgumentException(s"unknown step $other")
    }
  }.toSeq
}

/** Engine-independent text form of a result row, matched against the
  * DuckDB twins computed by `gen.py` (`canon_value`, `canon_rows`): columns
  * sorted by name, numbers rounded to 6 decimals without trailing
  * zeros, dates in ISO form, NULL as `\N`. */
object Canon {
  def value(v: Any): String = v match {
    case null => "\\N"
    case d: java.math.BigDecimal => num(d)
    case d: scala.math.BigDecimal => num(d.bigDecimal)
    case d: Double => num(new java.math.BigDecimal(d))
    case f: Float => num(new java.math.BigDecimal(f.toDouble))
    case n: java.lang.Number => n.toString
    case other => other.toString
  }

  private def num(d: java.math.BigDecimal): String = {
    val r = d.setScale(6, java.math.RoundingMode.HALF_EVEN).stripTrailingZeros
    if (r.signum == 0) "0" else r.toPlainString
  }

  def row(r: Row): String =
    r.schema.fieldNames.zipWithIndex.sortBy(_._1)
      .map { case (n, i) => s"$n=${value(r.get(i))}" }.mkString("\u0001")

  def hash(s: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(s.getBytes(StandardCharsets.UTF_8)).take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}
