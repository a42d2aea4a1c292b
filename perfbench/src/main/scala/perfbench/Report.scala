package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Minimal JSON rendering for the run record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

object Report {
  /** End-to-end metric names and units, in report order. */
  val endToEndMetrics: Seq[(String, String)] =
    Seq("setup_s" -> "s", "pass_s" -> "s", "op_s.p50" -> "s", "peak_rss_mb" -> "MB")
}

/** Collects a run's measurements and failures; prints the human-readable
  * summary and, last, the one-line JSON result. */
final class Report(workload: String) {
  private val samples = mutable.LinkedHashMap.empty[String, Seq[Double]]
  private val details = mutable.LinkedHashMap.empty[String, Seq[Double]]
  private val values = mutable.LinkedHashMap.empty[String, Double]
  private val failures = mutable.ArrayBuffer.empty[String]
  private var layerValues: Map[String, Double] = Map.empty
  private var spanList: Seq[OpResult] = Nil
  private var nAttempted = 0
  private var recallOk = true
  private var manifestJson = "{}"
  private var recordDir: Path = _

  def sample(name: String, xs: Seq[Double]): Unit = samples(name) = xs
  /** Per-operation samples: kept in the run record, summarized by `op_s.p50`. */
  def detail(name: String, xs: Seq[Double]): Unit = details(name) = xs
  def value(name: String, v: Double): Unit = values(name) = v
  def fail(msg: String): Unit = failures += msg
  def attempted(n: Int): Unit = nAttempted = n
  def layers(m: Map[String, Double]): Unit = layerValues = m
  def spans(s: Seq[OpResult]): Unit = spanList = s

  /** The recall gate counts as one checked operation. */
  def recall(pq: Double, ivfpq: Double, floor: Double): Unit = {
    values("ann_recall.pq") = pq
    values("ann_recall.ivfpq") = ivfpq
    nAttempted += 1
    recallOk = pq >= floor && ivfpq >= floor
    if (!recallOk) fail(f"ANN recall below floor $floor: pq=$pq%.3f ivfpq=$ivfpq%.3f")
  }

  def manifest(work: Path, fromLauncher: String, spark: SparkSession, seed: Long, cores: Int): Unit = {
    recordDir = work
    val own = Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString, "cores" -> cores.toString,
      "heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "spark" -> Json.str(spark.version),
      "jdk" -> Json.str(System.getProperty("java.version")))
    val base = fromLauncher.trim.stripSuffix("}").trim
    manifestJson = (if (base == "{") "{" else base + ", ") +
      own.map { case (k, v) => s"${Json.str(k)}: $v" }.mkString(", ") + "}"
    Files.writeString(work.resolve("manifest.json"), manifestJson + "\n")
  }

  private def endToEnd: Seq[(String, String, Double)] = {
    val v = Map("setup_s" -> Stats.median(samples("setup_s")),
      "pass_s" -> Stats.median(samples("pass_s")),
      "op_s.p50" -> Stats.median(details.values.map(Stats.median).toSeq),
      "peak_rss_mb" -> values("peak_rss_mb"))
    Report.endToEndMetrics.map { case (k, u) => (k, u, v(k)) }
  }

  def print(traced: Boolean): Int = {
    samples.foreach { case (k, xs) =>
      val (tl, tv) = Stats.tail(xs)
      println(f"[perfbench] $workload $k: p50=${Stats.median(xs)}%.4f s, $tl=$tv%.4f s, " +
        f"min=${xs.min}%.4f s, max=${xs.max}%.4f s, n=${xs.size}")
    }
    failures.foreach(f => println(s"[perfbench] FAILED $f"))
    val failed = math.min(failures.size, nAttempted)
    println(f"[perfbench] $workload failed_frac=${failed.toDouble / math.max(1, nAttempted)}%.4f " +
      s"($failed failed of $nAttempted operations attempted)")
    val e2e = endToEnd
    (e2e ++ values.toSeq.collect { case (k, v) if k.startsWith("ann_recall") => (k, "fraction", v) })
      .foreach { case (k, u, v) => println(f"[perfbench] $workload $k = $v%.6f $u") }
    val metrics =
      if (traced) Layers.metrics.map { case (k, u) =>
        (k, u, values.getOrElse(k, layerValues.getOrElse(k, 0.0)))
      }
      else e2e
    if (traced) metrics.foreach { case (k, u, v) => println(f"[perfbench] $workload $k = $v%.6f $u") }
    val metricJson = Json.obj(metrics.map { case (k, u, v) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })
    val correct = failures.isEmpty
    val result = Json.obj(Seq("correct" -> correct.toString, "attempted" -> nAttempted.toString,
      "failed" -> failed.toString, "metrics" -> metricJson))
    writeRecord(result)
    println(result)
    if (correct) 0 else 1
  }

  /** The run record: result, every sample, failures and (traced) spans. */
  private def writeRecord(result: String): Unit = if (recordDir != null) {
    val spansJson = spanList.map { r =>
      val s = r.span
      Json.obj(Seq("op" -> Json.str(s.name), "kind" -> Json.str(s.kind), "pass" -> s.pass.toString,
        "start_ms" -> s.start.toString, "s" -> Json.num(s.seconds),
        "self_s" -> Json.num(s.selfSeconds), "ok" -> r.ok.toString,
        "children" -> s.children.map(c => Json.obj(Seq("name" -> Json.str(c.name),
          "s" -> Json.num(c.seconds)))).mkString("[", ", ", "]")) ++
        s.stats.map { case (k, v) => k -> Json.num(v) })
    }
    val record = Json.obj(Seq(
      "result" -> result,
      "manifest" -> manifestJson,
      "samples" -> Json.obj((samples ++ details).toSeq.map { case (k, xs) =>
        k -> xs.map(Json.num).mkString("[", ", ", "]") }),
      "failures" -> failures.map(Json.str).mkString("[", ", ", "]"),
      "spans" -> spansJson.mkString("[\n", ",\n", "\n]")))
    Files.writeString(recordDir.resolve("record.json"), record + "\n")
  }
}
