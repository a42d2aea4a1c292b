package perfbench

import java.nio.file.{Files, Path}

import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.{SparkEntry, Tables}
import graft.meta.MetaStore
import graft.sync.SyncEngine

/** What one measured operation produced: its span, and the reason it
  * failed (an exception or a failed output check), if it did. */
final case class OpResult(span: Span, error: Option[String]) {
  def ok: Boolean = error.isEmpty
}

/** A named workload. The harness calls `prepare` once, in an untimed first
  * session that also runs `setup`; then `setup` once per timed session,
  * `check` once on the last session (untimed output checks, which also warm
  * it), then `pass` in a closed loop on that session. `extra` reports
  * workload-specific per-layer values. */
trait Workload {
  def name: String
  /** Write the inputs and warm the JVM (untimed). */
  def prepare(spark: SparkSession): Unit = ()
  def setup(spark: SparkSession): Unit
  def check(spark: SparkSession): Seq[(String, Option[String])]
  def pass(spark: SparkSession, pass: Int, rnd: Random, probe: Probe): Seq[OpResult]
  /** Checks over all measured passes, made after the last one. */
  def closingChecks: Seq[(String, Option[String])] = Nil
  def extra: Map[String, Double] = Map.empty
}

/** Times each operation and, in traced passes, samples the codegen and
  * cache counters around it. An operation that calls `built()` gets two
  * child spans: `build` up to that call and `sink` after it. */
final class Probe(tracer: Option[Tracer]) {
  def around(name: String, kind: String, pass: Int)(body: (() => Unit) => Unit): OpResult = {
    val cg0 = tracer.map(_.codegenSample())
    var built: Option[(Long, Long)] = None
    val t0 = System.nanoTime()
    val (err, s, e, ns) = Span.time {
      try { body(() => built = Some((System.currentTimeMillis(), System.nanoTime()))); None }
      catch { case NonFatal(ex) => Some(s"${ex.getClass.getSimpleName}: ${ex.getMessage}") }
    }
    val children = built.toSeq.flatMap { case (ms, n) =>
      Seq(Span("build", "build", pass, s, ms, n - t0),
        Span("sink", "sink", pass, ms, e, t0 + ns - n))
    }
    val stats = tracer.map { t =>
      t.drain()
      val (c1, ns1) = t.codegenSample()
      val (rdds, mb) = t.cacheSample()
      Map("codegen.compiles" -> (c1 - cg0.get._1).toDouble,
        "codegen.compile_ms" -> (ns1 - cg0.get._2) / 1e6,
        "caching.persisted_rdds" -> rdds, "caching.storage_mb" -> mb)
    }.getOrElse(Map.empty)
    OpResult(Span(name, kind, pass, s, e, ns, children, stats), err)
  }
}

/** Declared queries through the noop sink, each pass in a seeded order. */
final class QuerySuite(val name: String, val dataDir: String, val queries: Seq[String],
                       expected: Map[String, Fingerprint]) extends Workload {
  private val fns = queries.map(q => q -> SparkEntry.queries.getOrElse(q,
    throw new IllegalArgumentException(s"$name: no declared query $q")))
  override def prepare(spark: SparkSession): Unit =
    require(Files.isDirectory(java.nio.file.Paths.get(dataDir)), s"missing input $dataDir")

  /** Set-up warm-up: open every input table and count its rows. */
  def setup(spark: SparkSession): Unit =
    Tables.all.foreach(t => Tables.load(spark, dataDir, t).count())

  /** Every query's output matches its certified fingerprint. */
  def check(spark: SparkSession): Seq[(String, Option[String])] = fns.map { case (q, fn) =>
    q -> (try {
      val got = Fingerprint.of(fn(spark, dataDir))
      expected.get(q) match {
        case Some(want) if want == got => None
        case Some(want) => Some(s"fingerprint ${got.json} != expected ${want.json}")
        case None => Some(s"no expected fingerprint (got ${got.json})")
      }
    } catch { case NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") })
  }

  def pass(spark: SparkSession, pass: Int, rnd: Random, probe: Probe): Seq[OpResult] =
    rnd.shuffle(fns).map { case (q, fn) =>
      probe.around(q, "query", pass) { built =>
        val df = fn(spark, dataDir)
        built()
        df.write.mode("overwrite").format("noop").save()
      }
    }
}

/** The paper's workload: one table's placements synced into the catalog
  * over a seeded sequence of snapshots. Each pass is one round: `sync` on
  * the catalog's next snapshot (apply, commits one version), then `sync`
  * again on the same snapshot (no-op, commits nothing). Snapshots are
  * generated and written as each round first needs them; every catalog
  * starts from snapshot 0 and then takes them in order, so each apply is
  * one step of churn whatever catalog it runs on. */
final class SyncChurn(work: Path, seed: Long, shards: Int) extends Workload {
  val name = "sync_churn"
  private val warmShards = 5000
  private val warmRounds = 2
  private val tableId = 1L
  private val rnd = new Random(seed)
  private var latest: Snapshot = _ // the highest-numbered snapshot written
  private var written = -1
  private var nextId = 0L
  private var catalogs = 0
  private var store: MetaStore = _
  private var engine: SyncEngine = _
  private var catalogRoot: Path = _
  private var applied = 0 // the snapshot the current catalog holds
  private val commitBytes = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val commitFiles = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val readMs = scala.collection.mutable.ArrayBuffer.empty[Double]
  private var commits = 0
  private var applyRounds = 0
  private var counting = false

  private def snapPath(r: Int) = work.resolve(s"snapshots/r$r.parquet").toString

  private def source(spark: SparkSession, r: Int): DataFrame = spark.read.parquet(snapPath(r))

  /** Generate and write snapshots up to `r` (untimed), rows built in
    * parallel from a broadcast of the snapshot. */
  private def writeUpTo(spark: SparkSession, r: Int): Unit = while (written < r) {
    if (written < 0) latest = ChurnGen.initial(rnd, shards)
    else {
      latest = ChurnGen.next(latest, rnd, nextId)
      nextId += math.round(ChurnGen.frac * shards)
    }
    written += 1
    if (written == 0) nextId = latest.ids.max + 1
    import spark.implicits._
    val sc = spark.sparkContext
    val snap = sc.broadcast(latest)
    try sc.parallelize(0 until latest.shards, sc.defaultParallelism)
      .flatMap(i => snap.value.placementsOf(i))
      .toDF("shard_id", "shard_length", "hostname")
      .write.mode("overwrite").parquet(snapPath(written))
    finally snap.destroy()
  }

  /** Writes snapshot 0, then runs a few rounds on a small catalog of its
    * own, so that the apply and no-op code is compiled before timing. */
  override def prepare(spark: SparkSession): Unit = {
    writeUpTo(spark, 0)
    if (shards > warmShards) {
      val small = new SyncChurn(work.resolve("warm"), seed, warmShards)
      small.prepare(spark)
      small.setup(spark)
      (1 to warmRounds).foreach(_ => small.round(spark, 0, new Probe(None), verify = false))
    }
  }

  /** Set-up: a fresh catalog and the initial full load of snapshot 0. */
  def setup(spark: SparkSession): Unit = {
    catalogs += 1
    catalogRoot = work.resolve(s"catalog-$catalogs")
    store = new MetaStore(spark, catalogRoot.toString)
    engine = new SyncEngine(spark, store)
    val src = source(spark, 0)
    engine.sync(tableId, src.select("shard_id"), src)
    applied = 0
  }

  /** Catalog placements and shard ids equal to snapshot `r`: the counts
    * match and every snapshot row is in the catalog (a snapshot has no
    * duplicates, so together that is equality). */
  private def verifyCatalog(spark: SparkSession, r: Int): Option[String] = {
    val (pl, _, _, n0) = Span.time(store.placements)
    val (sh, _, _, n1) = Span.time(store.shards.where(col("table_id") === tableId).select("shard_id"))
    readMs += (n0 + n1) / 1e6
    val src = source(spark, r)
    val counts = pl.select(lit("placements").as("t")).union(sh.select(lit("shards")))
      .groupBy("t").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val missing = src.except(pl).select(lit(1))
      .union(src.select("shard_id").except(sh).select(lit(1))).limit(1).count()
    val (np, ns) = (counts.getOrElse("placements", 0L), counts.getOrElse("shards", 0L))
    val want = shards.toLong * ChurnGen.replicas
    if (np != want || ns != shards || missing > 0)
      Some(s"snapshot $r: catalog has $np placements and $ns shards, want $want and $shards" +
        (if (missing > 0) "; snapshot rows are missing from the catalog" else ""))
    else None
  }

  private def round(spark: SparkSession, pass: Int, probe: Probe,
                    verify: Boolean = true): Seq[OpResult] = {
    val r = applied + 1
    writeUpTo(spark, r)
    val src = source(spark, r)
    val (v0, _, _, n0) = Span.time(store.currentVersion)
    val apply = probe.around("apply", "apply", pass) { _ =>
      val v = engine.sync(tableId, src.select("shard_id"), src)
      if (v != v0 + 1) throw new IllegalStateException(s"apply committed v$v after v$v0")
    }
    applied = r
    val (v1, _, _, n1) = Span.time(store.currentVersion)
    val noop = probe.around("noop", "noop", pass) { _ =>
      val v = engine.sync(tableId, src.select("shard_id"), src)
      if (v != v1) throw new IllegalStateException(s"no-op returned v$v after v$v1")
    }
    val (v2, _, _, n2) = Span.time(store.currentVersion)
    readMs += (n0 + n1 + n2) / 1e6
    if (counting) {
      applyRounds += 1
      commits += (v2 - v0).toInt
      val dir = catalogRoot.resolve(s"v$v1")
      val files = Files.walk(dir).filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
      commitFiles += files.length.toDouble
      commitBytes += files.map(Files.size).sum.toDouble
    }
    val stateErr = if (v2 != v1) Some(s"no-op moved the catalog from v$v1 to v$v2") else None
    val checkErr = stateErr.orElse(if (verify) verifyCatalog(spark, r) else None)
    Seq(apply, noop.copy(error = noop.error.orElse(checkErr)))
  }

  /** One untimed round, checked like every measured one. */
  def check(spark: SparkSession): Seq[(String, Option[String])] =
    round(spark, 0, new Probe(None)).map(r => s"check-${r.span.name}" -> r.error)

  def pass(spark: SparkSession, pass: Int, rnd: Random, probe: Probe): Seq[OpResult] = {
    counting = true
    round(spark, pass, probe)
  }

  /** Catalog commits over the measured rounds equal the apply rounds. */
  override def closingChecks: Seq[(String, Option[String])] = Seq("commits" ->
    (if (commits == applyRounds) None else Some(s"$commits catalog commits in $applyRounds apply rounds")))

  override def extra: Map[String, Double] = {
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    Map("meta.commits" -> commits.toDouble, "meta.commit_bytes" -> med(commitBytes.toSeq),
      "meta.commit_files" -> med(commitFiles.toSeq), "meta.read_ms" -> med(readMs.toSeq))
  }
}
