package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.SparkEntry
import graft.ops.{Scoring, SourceOps, TextOps}

/** Runs one benchmark workload in one JVM: a single closed-loop client
  * that sends the next request only after the previous one returned.
  *
  * Usage: `perfbench.Main <plan.json>`. The plan (written by `run.py`)
  * names the requests of the warm-up and of each timed round, the time
  * budget, and where to write results. A request is one registry op
  * `SparkEntry.queries(op)(spark, dir)`: the call is the construction
  * step and a `noop` write of the returned frame is the execution step;
  * the two together are the request's wall time.
  *
  * Outputs are checked outside the timed region: every result is
  * collected and reduced to a canonical digest, and an oracled op's first
  * result on each input is also written to parquet for the DuckDB oracle
  * comparison `run.py` makes after this JVM exits.
  *
  * With tracing on, every second occurrence of an op (the first, third,
  * ...) runs with the [[Tracer]] listeners attached and the others run
  * bare, so one run yields both the per-layer numbers and the tracing
  * overhead. The untraced run never attaches a listener. */
object Main {

  final case class Req(op: String, cls: String, dir: String)

  private val json = new ObjectMapper()

  private def reqs(n: JsonNode): Seq[Req] =
    n.elements().asScala.map(r => Req(r.get("op").asText, r.get("cls").asText, r.get("dir").asText)).toSeq

  /** Wall clock in epoch ms with sub-ms resolution, comparable with listener event times. */
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  private def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def main(args: Array[String]): Unit = {
    val plan = json.readTree(new java.io.File(args(0)))
    val out = new java.util.LinkedHashMap[String, Any]()
    val traced = plan.get("trace").asBoolean
    val cores = plan.get("cores").asInt
    val seconds = plan.get("seconds").asDouble
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", plan.get("local_dir").asText)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    out.put("session_s", (System.currentTimeMillis() - jvmStart) / 1000.0)
    val sc = spark.sparkContext
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val spans = new java.util.ArrayList[java.util.Map[String, Any]]()
    def span(id: String, parent: String, name: String, start: Double, end: Double,
             attrs: Map[String, Any] = Map.empty): Unit = {
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("id", id); m.put("parent", parent); m.put("name", name)
      m.put("start_ms", start); m.put("end_ms", end)
      attrs.foreach { case (k, v) => m.put(k, v) }
      spans.add(m)
    }

    // ---- checks, outside the timed region ----
    // Every result is reduced to a canonical digest, which must repeat
    // across the op's requests on the same input. An oracled op's first
    // result on each input is also written to parquet for the DuckDB
    // oracle comparison; a no-oracle op's first digest must match the
    // recorded one.
    val resultsDir = plan.get("results_dir").asText
    val groups = mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[String, String]]
    def check(r: Req, df: DataFrame): (String, Int) = {
      val byDir = groups.getOrElseUpdate(r.op, mutable.LinkedHashMap.empty)
      val path =
        if (byDir.contains(r.dir) || !SparkEntry.oracleSql.contains(r.op)) ""
        else s"$resultsDir/${r.op}-${byDir.size}"
      byDir.getOrElseUpdate(r.dir, path)
      if (path.isEmpty) Digest.of(df)
      else {
        // one execution serves both the oracle dump and the digest
        val kept = df.persist()
        try { kept.write.parquet(path); Digest.of(kept) } finally kept.unpersist()
      }
    }

    // ---- one request: construct, execute, then (untimed) check ----
    val records = new java.util.ArrayList[java.util.Map[String, Any]]()
    val occurrences = mutable.HashMap.empty[(String, String), Int]
    var stagedInTimed = 0L
    var checkMs = 0.0
    def run(i: Int, r: Req, occurrence: Int, trace: Boolean): Unit = {
      val timed = occurrence >= 0
      val id = s"r$i"
      val tagC = s"${Tracer.TagPrefix}$id-construct"
      val tagX = s"${Tracer.TagPrefix}$id-execute"
      if (trace) { tracer.get.attach(); tracer.get.currentOwner = id }
      val staged0 = SourceOps.stagedKeyCount
      val cgN0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val cgT0 = CodeGenerator.compileTime
      val t0 = nowMs
      var t1, t2 = t0
      var error: String = null
      var df: DataFrame = null
      try {
        sc.addJobTag(tagC)
        try df = SparkEntry.queries(r.op)(spark, r.dir) finally sc.removeJobTag(tagC)
        t1 = nowMs
        sc.addJobTag(tagX)
        try df.write.format("noop").mode("overwrite").save() finally sc.removeJobTag(tagX)
        t2 = nowMs
      } catch {
        case scala.util.control.NonFatal(e) =>
          error = s"${e.getClass.getSimpleName}: ${e.getMessage}"
          t2 = nowMs
      }
      val cgN = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cgN0
      val cgMs = (CodeGenerator.compileTime - cgT0) / 1e6
      val staged = SourceOps.stagedKeyCount - staged0
      if (timed) stagedInTimed += staged
      val c0 = nowMs
      val checkTag = Tracer.TagPrefix + "check"
      sc.addJobTag(checkTag)
      val (digest, rows) =
        if (error != null) (null, -1)
        else try check(r, df) catch {
          case scala.util.control.NonFatal(e) =>
            error = s"check: ${e.getClass.getSimpleName}: ${e.getMessage}"
            (null, -1)
        } finally sc.removeJobTag(checkTag)
      spark.catalog.clearCache()
      val c1 = nowMs
      checkMs += c1 - c0
      val rec = new java.util.LinkedHashMap[String, Any]()
      rec.put("op", r.op); rec.put("cls", r.cls); rec.put("dir", r.dir)
      rec.put("timed", timed); rec.put("occurrence", occurrence); rec.put("traced", trace)
      rec.put("construct_ms", t1 - t0); rec.put("execute_ms", t2 - t1); rec.put("total_ms", t2 - t0)
      rec.put("digest", digest); rec.put("rows", rows); rec.put("error", error); rec.put("staged", staged)
      if (trace) {
        val tr = tracer.get
        tr.currentOwner = ""
        tr.detach()
        val (c, x) = (tr.acc(tagC), tr.acc(tagX))
        val both = Seq(c, x)
        def sum(f: tr.Acc => Long): Long = both.map(f).sum
        // wall time of the request not covered by any of its jobs
        val jobSpans = both.flatMap(_.jobSpans).map { case (_, s, e) => (s.toDouble, e.toDouble) }.sortBy(_._1)
        var covered = 0.0
        var cur = t0
        jobSpans.foreach { case (s, e) =>
          val (a, b) = (math.max(s, cur), math.min(e, t2))
          if (b > a) { covered += b - a; cur = b }
        }
        val streamsHere = tr.streamsOf(id)
        val layers = new java.util.LinkedHashMap[String, Any]()
        layers.put("construct_jobs", c.jobs); layers.put("execute_jobs", x.jobs)
        layers.put("jobs", sum(_.jobs)); layers.put("stages", sum(_.stages)); layers.put("tasks", sum(_.tasks))
        layers.put("task_delay_ms", sum(_.delayMs)); layers.put("driver_only_ms", (t2 - t0) - covered)
        layers.put("run_ms", sum(_.runMs)); layers.put("cpu_ms", sum(_.cpuNs) / 1e6); layers.put("gc_ms", sum(_.gcMs))
        layers.put("scan_tasks", sum(_.scanTasks)); layers.put("bytes_read", sum(_.bytesRead))
        layers.put("records_read", sum(_.recordsRead))
        layers.put("shuffle_write_bytes", sum(_.shuffleWrite)); layers.put("shuffle_read_bytes", sum(_.shuffleRead))
        layers.put("spill_disk_bytes", sum(_.spillDisk))
        layers.put("analysis_ms", sum(_.analysisMs)); layers.put("optimize_ms", sum(_.optimizeMs))
        layers.put("physical_ms", sum(_.physicalMs))
        layers.put("codegen_compiles", cgN); layers.put("codegen_ms", cgMs)
        layers.put("stream_batches", streamsHere.map(_.batches).sum)
        layers.put("stream_batch_ms", streamsHere.map(_.batchMs).sum)
        layers.put("stream_commit_ms", streamsHere.map(_.commitMs).sum)
        layers.put("stream_state_rows", streamsHere.map(_.stateRows).sum)
        layers.put("cache_peak_bytes", tr.takeCachePeak())
        rec.put("layers", layers)
        span(id, null, r.op, t0, t2, Map("cls" -> r.cls, "timed" -> timed, "error" -> error))
        span(s"$id.construct", id, "construct", t0, t1)
        span(s"$id.execute", id, "execute", t1, t2)
        span(s"$id.check", id, "check", c0, c1)
        for ((phase, a) <- Seq("construct" -> c, "execute" -> x); (job, s, e) <- a.jobSpans)
          span(s"$id.job$job", s"$id.$phase", s"job $job", s.toDouble, e.toDouble)
        for ((q, qi) <- streamsHere.zipWithIndex; (b, s, e) <- q.batchSpans)
          span(s"$id.stream$qi.batch$b", s"$id.construct", s"micro-batch $b", s.toDouble, e.toDouble)
      }
      records.add(rec)
    }

    // ---- set-up: session, artifacts, then a warm-up pass over the
    // workload's own ops, which also stages their memoized inputs ----
    val warmup = reqs(plan.get("warmup"))
    // the fit-or-load registries (target/models) the plan says its ops read
    val artifactT0 = System.nanoTime()
    plan.get("artifacts").elements().asScala.map(_.asText).foreach {
      case "bpe" => TextOps.warmBpe(spark, plan.get("fixture").asText)
      case other => sys.error(s"unknown artifact registry '$other'")
    }
    val artifactMs = (System.nanoTime() - artifactT0) / 1e6
    val warmT0 = System.nanoTime()
    var i = 0
    warmup.foreach { r => run(i, r, occurrence = -1, trace = false); i += 1 }
    out.put("warmup_s", (System.nanoTime() - warmT0) / 1e9)
    out.put("warmup_check_s", checkMs / 1000.0)
    val stagedInSetup = SourceOps.stagedKeyCount

    // ---- timed region ----
    // set-up time leaves out the warm-up's output checks: harness work
    val setupS = (System.currentTimeMillis() - jvmStart - checkMs) / 1000.0
    val rounds = plan.get("rounds").elements().asScala.map(reqs).toSeq
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var round = 0
    // whole rounds until the time is up, so every op has as many samples,
    // and at least min_rounds of them, so every op has a median
    val minRounds = plan.get("min_rounds").asInt
    while (round < minRounds || System.nanoTime() < deadline) {
      rounds(round % rounds.size).foreach { r =>
        val k = occurrences.getOrElse((r.op, r.cls), 0)
        occurrences((r.op, r.cls)) = k + 1
        run(i, r, occurrence = k, trace = traced && k % 2 == 0)
        i += 1
      }
      round += 1
    }

    // ---- traced-only layer probes: the scoring pipeline's two halves alone ----
    val probe = Option(plan.get("probe_dir")).map(_.asText)
    val probes = new java.util.LinkedHashMap[String, Any]()
    if (traced) probe.foreach { dir =>
      import org.apache.spark.sql.functions.{array, col}
      def median3(f: => Unit): Double = Seq.fill(3) { val t = nowMs; f; nowMs - t }.sorted.apply(1)
      val pre = Scoring.preprocess(Scoring.synthCustomers(spark, dir)).select(Scoring.featureCols.map(col): _*)
      probes.put("preprocess_ms", median3(pre.write.format("noop").mode("overwrite").save()))
      val cached = pre.cache()
      cached.count()
      val margin = cached.select(graft.functions.XgbFunctions.xgb_margin(array(Scoring.featureCols.map(col): _*)))
      probes.put("xgb_margin_ms", median3(margin.write.format("noop").mode("overwrite").save()))
      cached.unpersist()
    }

    val groupsOut = new java.util.ArrayList[java.util.Map[String, Any]]()
    groups.foreach { case (op, byDir) =>
      val g = new java.util.LinkedHashMap[String, Any]()
      g.put("op", op); g.put("dirs", byDir.keys.toSeq.asJava)
      g.put("oracle_sql", SparkEntry.oracleSql.getOrElse(op, null))
      g.put("paths", byDir.values.filter(_.nonEmpty).toSeq.asJava)
      groupsOut.add(g)
    }

    val status = Files.readAllLines(Paths.get("/proc/self/status")).asScala
    val hwmKb = status.find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    out.put("setup_s", setupS)
    out.put("artifacts_build_ms", artifactMs)
    out.put("staged_in_setup", stagedInSetup)
    out.put("staged_in_timed", stagedInTimed)
    out.put("rss_peak_mb", hwmKb / 1024.0)
    out.put("rounds", round)
    out.put("records", records)
    out.put("groups", groupsOut)
    out.put("probes", probes)
    tracer.foreach { tr =>
      tr.drain()
      // every job the listener saw while attached carried one of our phase tags
      out.put("jobs_seen", tr.jobsSeen)
      out.put("jobs_untagged", tr.acc(Tracer.Untagged).jobs)
      out.put("jobs_check", tr.acc(Tracer.TagPrefix + "check").jobs)
    }
    json.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(plan.get("out").asText), out)
    if (traced) json.writeValue(new java.io.File(plan.get("spans").asText), spans)
    spark.stop()
  }
}

/** Order-insensitive digest of a result, over the canonical row multiset
  * `graft.Verify` compares: each row canonicalized as Verify does
  * (floating values by raw bits, nested rows, arrays and maps
  * recursively, bytes as base64) and hashed on the executors; the row
  * hashes are summed modulo 2^256, so no collect or sort is needed. */
object Digest {
  private def canon(v: Any): String = v match {
    case null => "null"
    case d: java.lang.Double => "d" + java.lang.Double.doubleToRawLongBits(d)
    case f: java.lang.Float => "f" + java.lang.Float.floatToRawIntBits(f)
    case b: Array[Byte] => "b" + java.util.Base64.getEncoder.encodeToString(b)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case s: Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: Map[_, _] =>
      m.map { case (k, x) => canon(k) + "->" + canon(x) }.toSeq.sorted.mkString("{", ",", "}")
    case other => other.getClass.getSimpleName + ":" + other.toString
  }

  private val Modulus = BigInt(1) << 256

  /** The digest (hex) and the row count of `df`'s result. */
  def of(df: DataFrame): (String, Int) = {
    val parts = df.rdd.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      var sum = BigInt(0)
      var n = 0L
      it.foreach { r =>
        sum += BigInt(1, md.digest(canon(r).getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        n += 1
      }
      Iterator((sum, n))
    }.collect()
    val sum = parts.map(_._1).foldLeft(BigInt(0))(_ + _) % Modulus
    val n = parts.map(_._2).sum
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(s"$n:${sum.toString(16)}".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    (md.digest().map("%02x".format(_)).mkString, n.toInt)
  }
}
