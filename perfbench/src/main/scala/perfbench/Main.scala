package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftExtensions, SparkEntry, Tables}

/** The benchmark harness: runs one workload in a closed loop from a single
  * client thread and prints the run's result as the last line of stdout.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --data <dir> --work <dir> --cores <n> --expected <dir>
  *      [--manifest <json>] [--certify <dir>]
  * }}}
  *
  * `--certify` skips measuring: it dumps each suite query's output for the
  * oracle compare (`tools/check.py`) and writes the fingerprints the dump
  * certifies.
  */
object Main {

  /** Declared queries of `suite_sf0.1`: a fixed subset of the suite, one
    * or more per module, sized so one pass fits the run length. */
  val suiteQueries: Seq[String] = Seq(
    "q_current_set", "q_meta_placements", "q_media_png", "q_hash_sample",
    "q_dedup_exact", "q_compact", "q_stateful_sessions", "q_time_travel")

  val setups = 3
  /** Passes at least measured per run, and pairs of untraced and traced
    * passes per traced run. */
  val minPasses = 3
  val minTracedPasses = 2
  val syncShards = 100000

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
  }

  def parse(argv: Array[String]): Args = Args(argv.grouped(2).map {
    case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    case other => sys.error(s"bad argument ${other.mkString(" ")}")
  }.toMap)

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** `<dir>/<workload>.json`: {"queries": {query: {"rows": n, "hash": hex}}}. */
  def loadExpected(dir: String, workload: String): Map[String, Fingerprint] = {
    val f = Paths.get(dir, s"$workload.json")
    if (!Files.exists(f)) return Map.empty
    import org.json4s._
    val JObject(fields) = org.json4s.jackson.JsonMethods.parse(Files.readString(f)) \ "queries"
    fields.collect { case (q, JObject(kv)) =>
      val m = kv.toMap
      val (JInt(rows), JString(hash)) = (m("rows"), m("hash"))
      q -> Fingerprint.parse(rows.toLong, hash)
    }.toMap
  }

  def suite(a: Args): QuerySuite = new QuerySuite("suite_sf0.1", s"${a("data")}/sf0.1",
    suiteQueries, loadExpected(a("expected"), "suite_sf0.1"))

  val workloads: Seq[String] = Seq("sync_churn", "suite_sf0.1")

  def workload(a: Args, work: Path): Workload = a("workload") match {
    case "sync_churn" => new SyncChurn(work, a("seed").toLong, syncShards)
    case "suite_sf0.1" => suite(a)
    case w => sys.error(s"unknown workload $w")
  }

  /** ANN recall of the PQ and IVF-PQ tiers against brute force, with the
    * calls and parameters of `graft.Bench`'s recall gate. */
  def recall(spark: SparkSession, dir: String): (Double, Double) = {
    import graft.ext.Similarity
    import org.apache.spark.sql.functions.{avg, col}
    val emb = Tables.load(spark, dir, "embeddings")
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", _ < 10, k = 5).cache()
    def hits(ann: DataFrame): Double =
      Similarity.annHits(ann, brute).agg(avg(col("hits") / 5.0)).head().getDouble(0)
    val refine = Similarity.scaledRefine(emb.count())
    try (
      hits(Similarity.pqTopK(emb, "vec_id", "embedding", _ < 10, k = 5, m = 8,
        kCodes = 64, refine = refine, dim = 64)),
      hits(Similarity.ivfpqTopK(emb, "vec_id", "embedding", _ < 10, k = 5, nprobe = 32,
        m = 8, kCodes = 64, refine = refine, dim = 64)))
    finally brute.unpersist()
  }

  val recallFloor = 0.6

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)
    val cores = a("cores").toInt
    val code = try {
      if (a.get("certify").isDefined) certify(a, work, cores) else run(a, work, cores)
    } catch { case NonFatal(e) =>
      System.err.println(s"[perfbench] run aborted: $e")
      e.printStackTrace()
      2
    }
    SparkSession.getActiveSession.foreach(_.stop())
    sys.exit(code)
  }

  def run(a: Args, work: Path, cores: Int): Int = {
    val wl = workload(a, work)
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val out = new Report(a("workload"))
    var phase0 = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      System.err.println(f"[perfbench] phase $name took ${(now - phase0) / 1e9}%.1f s")
      phase0 = now
    }

    // an untimed first session prepares the inputs and pays the JVM's cold
    // start; then three timed set-ups, each in a new session; the last
    // session runs the untimed output checks, which warm it, and is measured
    var spark = session(cores, work)
    GraftExtensions.ensure(spark)
    wl.prepare(spark)
    wl.setup(spark)
    phase("preparation")
    val setupTimes = (1 to setups).map { _ =>
      spark.stop()
      val (_, _, _, ns) = Span.time {
        spark = session(cores, work)
        GraftExtensions.ensure(spark)
        wl.setup(spark)
      }
      ns / 1e9
    }
    out.sample("setup_s", setupTimes)
    phase("set-up")
    val checks = wl.check(spark)
    checks.foreach { case (op, err) => err.foreach(e => out.fail(s"check $op: $e")) }
    phase("check")

    val rnd = new Random(seed)
    // a pass's time is the sum of its operations' times: untimed preparation
    // and checks between them, such as sync_churn's snapshot writes, are out
    def onePass(probe: Probe, n: Int): (Double, Seq[OpResult]) = {
      val ops = wl.pass(spark, n, rnd, probe)
      (ops.map(_.span.seconds).sum, ops)
    }
    // closed loop of whole passes until `seconds` have passed and at least
    // `min` passes (or pairs) are done
    def loop[T](min: Int)(pass: Int => T): Seq[T] = {
      val t0 = System.nanoTime()
      val out = Seq.newBuilder[T]
      var n = 0
      while (n < min || (System.nanoTime() - t0) / 1e9 < seconds) { out += pass(n); n += 1 }
      out.result()
    }
    // a traced run alternates untraced and traced passes, so that warm-up
    // drift does not count as tracing overhead
    val (untraced, tracedPasses) = if (!traced) {
      (loop(minPasses)(n => onePass(new Probe(None), n + 1)), Nil)
    } else {
      val tracer = new Tracer(spark)
      val (u, ps) = loop(minTracedPasses) { n =>
        val plain = onePass(new Probe(None), 2 * n + 1)
        tracer.attach()
        try (plain, onePass(new Probe(Some(tracer)), 2 * n + 2)) finally tracer.detach()
      }.unzip
      val overhead = Stats.median(ps.map(_._1)) - Stats.median(u.map(_._1))
      out.layers(Layers.summarize(ps.map(_._2.map(_.span)), tracer.events(), cores,
        wl.extra + ("trace.overhead_s" -> overhead)))
      out.spans(ps.flatMap(_._2))
      (u, ps)
    }
    phase("measure")
    val all = untraced ++ tracedPasses
    all.flatMap(_._2).foreach(r => r.error.foreach(e => out.fail(s"${r.span.name} pass ${r.span.pass}: $e")))
    val closing = wl.closingChecks
    closing.foreach { case (op, err) => err.foreach(e => out.fail(s"$op: $e")) }
    out.attempted(checks.size + all.map(_._2.size).sum + closing.size)

    out.sample("pass_s", untraced.map(_._1))
    val opTimes = untraced.flatMap(_._2).map(_.span)
    out.sample("op_s", opTimes.map(_.seconds))
    opTimes.groupBy(_.kind).foreach { case (k, xs) => out.sample(s"op_s[$k]", xs.map(_.seconds)) }
    opTimes.groupBy(_.name).foreach { case (k, xs) => out.detail(s"op_s[$k]", xs.map(_.seconds)) }

    // the recall gate is deterministic for given code and inputs and costs
    // about as much as the measured passes, so only traced runs take it
    wl match {
      case s: QuerySuite if traced =>
        val (pq, ivfpq) = recall(spark, s.dataDir)
        out.recall(pq, ivfpq, recallFloor)
        phase("recall")
      case _ =>
    }
    out.value("peak_rss_mb", peakRssMb())
    out.manifest(work, a.get("manifest").getOrElse("{}"), spark, seed, cores)
    out.print(traced)
  }

  /** Dump each query's output for the oracle compare and write the
    * fingerprints of the dumped (certified) rows. */
  def certify(a: Args, work: Path, cores: Int): Int = {
    val dump = Paths.get(a("certify")).toAbsolutePath
    Files.createDirectories(dump)
    val spark = session(cores, work)
    GraftExtensions.ensure(spark)
    val wl = suite(a)
    val (dir, queries) = (wl.dataDir, wl.queries)
    val fps = queries.map { q =>
      val fn = SparkEntry.queries(q)
      fn(spark, dir).coalesce(1).write.mode("overwrite").parquet(dump.resolve(q).toString)
      val dumped = Fingerprint.of(spark.read.parquet(dump.resolve(q).toString))
      val live = Fingerprint.of(fn(spark, dir))
      require(dumped == live, s"$q: dumped ${dumped.json} != live ${live.json}")
      println(s"$q ${live.json}")
      q -> live
    }
    Files.writeString(dump.resolve("oracle_sql.json"), queries.map { q =>
      Json.str(q) + ": " + Json.str(SparkEntry.oracleSql(q))
    }.mkString("{", ",\n", "}"))
    Files.writeString(dump.resolve("fingerprints.json"), fps.map { case (q, f) =>
      s"    ${Json.str(q)}: ${f.json}" }.mkString("{\n  \"queries\": {\n", ",\n", "\n  }\n}\n"))
    0
  }
}
