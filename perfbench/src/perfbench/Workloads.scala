package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.QualityFilter
import graft.plans.{AnomalyJob, CheckType, ConfigLoader, Runner}
import graft.sources.MetricsStore

/** Operation sizes, fixed before measuring. */
object Sizes {
  val filterShards = 2
  val filterPages = 3000
}

/** What one run shares: the session and its directories. */
final class Ctx(val spark: SparkSession, val inputs: Path, val work: Path) {
  def out(k: Int): Path = work.resolve(s"out/op$k")
}

/** One closed-loop workload: `op` is one operation of the program's public
  * API, `check` verifies its committed output (returning the failures),
  * `layers` measures the per-layer metrics of the layers it exercises. */
trait Workload {
  def name: String
  /** The program module whose public function one operation calls. */
  def module: String
  def prepare(c: Ctx): Unit
  /** Untimed operations before the window at the least (JIT, codegen
    * caches); they are checked like any other. */
  def warmupOps: Int
  /** Operations in the timed window. */
  def windowOps: Int
  /** Pages one operation runs through the text kernels. */
  def textDocsPerOp: Long
  /** Runs operation `k`; returns the items it completed. */
  def op(c: Ctx, k: Int): Long
  def check(c: Ctx, k: Int): Seq[String]
  /** Bytes of data files operation `k` committed (read before cleanup). */
  def committedBytes(c: Ctx, k: Int): Long
  def cleanup(c: Ctx, k: Int): Unit = Files2.rmrf(c.out(k))
  def layers(c: Ctx, r: Layers.Probe): Unit
  /** Digest of the outputs: equal for equal seeds. */
  def digest: String
}

object Workloads {
  val names: Seq[String] = Seq("filter_bulk", "checks_daily")
  def apply(name: String): Workload = name match {
    case "filter_bulk"  => new FilterBulk
    case "checks_daily" => new ChecksDaily
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

object Files2 {
  def rmrf(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally s.close()
  }
  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t)
    } finally s.close()
  }
  /** Bytes of the data files under `p` (no checksums or markers). */
  def dataBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
      !f.getFileName.toString.startsWith(".") &&
      !f.getFileName.toString.startsWith("_")).map(Files.size).sum
    finally s.close()
  }
  def dataFiles(p: Path): Int = {
    val s = Files.walk(p)
    try s.iterator().asScala.count(f =>
      f.getFileName.toString.endsWith(".parquet"))
    finally s.close()
  }
}

/** Output check of a committed verdict table against the shard's
  * manifest. One narrow scan; the comparison runs on the driver. Returns
  * (failures, digest).
  *
  * Every page has one verdict row, kept exactly when it fails no rule.
  * Planted quality failures are dropped and planted e-mails scrubbed. Clean
  * pages (prose, exact and near duplicates) pass scrubbing unchanged and
  * fail no rule but the two that the program applies to clean prose too
  * (`max_symbol_word_ratio` counts ordinary punctuation, and
  * `min_langid_score` reads Portuguese as Spanish); clean pages of the
  * unsegmented scripts, which neither rule touches, are all kept; and at
  * least `minLangAgreement` of clean pages not in Portuguese are
  * identified as their planted language.
  */
object VerdictCheck {
  private val clean = Set("prose", "exactdup", "neardup")
  private val cleanMayFail = Set("max_symbol_word_ratio", "min_langid_score")
  val minLangAgreement = 0.99

  private final case class Verdict(keep: Boolean, reasons: Seq[String],
                                   emailLeft: Boolean, lang: String,
                                   unchanged: Boolean, hash: Long)

  def apply(verdicts: DataFrame, manifest: Seq[Gen.Planted],
            shard: Int): (Seq[String], Long) = {
    val rows = verdicts.select(col("url"), col("keep"), col("fail_reasons"),
        col("scrubbed_text").contains("@mail.example.org"),
        col("lang_pred"), col("scrubbed_text") === col("text"),
        xxhash64(col("url"), col("keep"), col("fail_reasons"),
          col("scrubbed_text")))
      .collect().map(r => r.getString(0) -> Verdict(r.getBoolean(1),
        r.getSeq[String](2), r.getBoolean(3), r.getString(4), r.getBoolean(5),
        r.getLong(6)))
    val byUrl = rows.toMap
    def count(p: Gen.Planted => Boolean)(q: (Verdict, Gen.Planted) => Boolean) =
      manifest.count(m => p(m) && byUrl.get(m.url).exists(q(_, m)))
    val isClean = (m: Gen.Planted) => clean(m.kind)
    val inconsistent = rows.count { case (_, v) => v.keep != v.reasons.isEmpty }
    val plantedKept = count(_.kind.startsWith("fail_"))((v, _) => v.keep)
    val cleanFailed = manifest.filter(isClean).flatMap(m =>
      byUrl.get(m.url).toSeq.flatMap(_.reasons.filterNot(cleanMayFail)))
      .groupBy(identity).map { case (r, rs) => s"$r ${rs.size}" }.toSeq.sorted
    val noSpaceDropped =
      count(m => isClean(m) && Gen.Params.noSpace(m.lang))((v, _) => !v.keep)
    val langChecked = (m: Gen.Planted) => isClean(m) && m.lang != "pt"
    val langN = manifest.count(langChecked)
    val langAgree = count(langChecked)((v, m) => v.lang == m.lang)
    val altered = count(isClean)((v, _) => !v.unchanged)
    val piiLeft = count(_.kind == "pii")((v, _) => v.emailLeft)
    val failures = Seq(
      (rows.length == manifest.size &&
        byUrl.keySet == manifest.map(_.url).toSet) ->
        (s"shard $shard: expected one verdict row per page (${manifest.size}), " +
          s"got ${rows.length} rows for ${byUrl.size} urls"),
      (inconsistent == 0) ->
        s"shard $shard: $inconsistent rows whose keep disagrees with fail_reasons",
      (plantedKept == 0) -> s"shard $shard: $plantedKept planted quality failures kept",
      cleanFailed.isEmpty ->
        s"shard $shard: clean pages failed rules [${cleanFailed.mkString(", ")}]",
      (noSpaceDropped == 0) ->
        s"shard $shard: $noSpaceDropped clean zh/ja/th pages dropped",
      (langAgree >= minLangAgreement * langN) ->
        s"shard $shard: $langAgree of $langN clean non-pt pages identified as their language",
      (altered == 0) -> s"shard $shard: $altered clean pages altered by scrubbing",
      (piiLeft == 0) -> s"shard $shard: $piiLeft planted e-mails left unscrubbed"
    ).collect { case (false, msg) => msg }
    (failures, rows.map(_._2.hash).foldLeft(0L)(_ ^ _))
  }
}

/** `QualityFilter.run(shard, defaultRules)` committed to parquet, cycling
  * over pre-generated shards. */
final class FilterBulk extends Workload {
  val name = "filter_bulk"
  val module = "operators"
  /** The text kernels keep compiling for about eight operations: op time
    * falls from 1.4 s (after a cold first op of 5-10 s) to 0.8 s over
    * them on 4 cores. */
  def warmupOps: Int = 8
  def windowOps: Int = 16
  def textDocsPerOp: Long = Sizes.filterPages
  private var manifests: IndexedSeq[Seq[Gen.Planted]] = IndexedSeq.empty
  private val digests = mutable.Map.empty[Int, Long]
  private def shard(k: Int) = k % Sizes.filterShards
  private def shardPath(c: Ctx, s: Int) =
    c.inputs.resolve(s"pages/shard=$s").toString

  def prepare(c: Ctx): Unit =
    manifests = (0 until Sizes.filterShards).map(s =>
      Gen.readManifest(c.inputs.resolve(s"shard$s.tsv")))

  def op(c: Ctx, k: Int): Long = {
    QualityFilter.run(c.spark.read.parquet(shardPath(c, shard(k))))
      .write.mode("overwrite").parquet(c.out(k).toString)
    manifests(shard(k)).size
  }

  def check(c: Ctx, k: Int): Seq[String] = {
    val s = shard(k)
    val (fails, digest) = VerdictCheck(
      c.spark.read.parquet(c.out(k).toString), manifests(s), s)
    val prev = digests.getOrElseUpdate(s, digest)
    fails ++ (if (prev != digest)
      Seq(s"shard $s: verdict digest $digest differs from $prev") else Nil)
  }

  def digest: String = digests.toSeq.sorted.map(_._2).mkString(",")

  def committedBytes(c: Ctx, k: Int): Long = Files2.dataBytes(c.out(k))

  /** The functions layer on 300 of the shard's texts, then the shard's
    * scan and the operation into a noop sink. */
  def layers(c: Ctx, r: Layers.Probe): Unit = {
    val spark = c.spark
    val path = shardPath(c, 0)
    val texts = spark.read.parquet(path).select("text").limit(300)
      .collect().map(_.getString(0)).toSeq
    Layers.functions(texts, r, spark.sparkContext.defaultParallelism)
    r.time("sources.scan_s") {
      spark.read.parquet(path).select("url", "text")
        .write.format("noop").mode("overwrite").save()
    }
    r.time("operators.filter.noop_s") {
      QualityFilter.run(spark.read.parquet(path))
        .write.format("noop").mode("overwrite").save()
    }
  }
}

/** One daily `Runner.run` (next run day, new run id) of a config with every
  * check type, over seeded tables, against a ledger seeded with history.
  * The ledger is restored to its seeded state after each operation's
  * check, so every operation reads and appends to a ledger of one size. */
final class ChecksDaily extends Workload {
  val name = "checks_daily"
  val module = "plans"
  def textDocsPerOp: Long = 0L
  private var tables: Map[String, DataFrame] = Map.empty
  private def live(c: Ctx) = c.work.resolve("ledger-live")
  private def store(c: Ctx) = new MetricsStore(live(c).toString)
  private def yaml(c: Ctx) = c.inputs.resolve("checks.yaml").toString
  private val results = mutable.Map.empty[Int, Runner.RunResult]
  private var expected: Map[Int, Map[String, Double]] = Map.empty

  private def day(k: Int) = k % Gen.Params.runDays
  private def runId(k: Int) = s"run$k-${Gen.runDay(day(k))}"
  private def runTime(k: Int) = java.sql.Timestamp.valueOf(
    Gen.Params.firstRunDay.plusDays(k.toLong).atTime(6, 0))
  def config(c: Ctx, k: Int) =
    ConfigLoader.load(yaml(c), Map("RUN_DAY" -> Gen.runDay(day(k))))

  private def resetLedger(c: Ctx): Unit = {
    Files2.rmrf(live(c))
    Files2.copyTree(c.inputs.resolve("ledger"), live(c))
  }

  def prepare(c: Ctx): Unit = {
    expected = Gen.readExpected(c.inputs.resolve("expected.tsv"))
    resetLedger(c)
    tables = Seq("events", "users").map { t =>
      val df = c.spark.read.parquet(c.inputs.resolve(s"tables/$t.parquet").toString)
      df.createOrReplaceTempView(t)
      t -> df
    }.toMap
  }

  def op(c: Ctx, k: Int): Long = {
    val res = Runner.run(config(c, k), c.spark, tables, store(c), runId(k),
      runTime(k))
    results(k) = res
    res.total
  }

  def check(c: Ctx, k: Int): Seq[String] = {
    val res = results.remove(k).get
    val rows = store(c).read(c.spark).filter(col("run_id") === runId(k))
      .select("name", "success", "actual_value").collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getDouble(2))).sortBy(_._1)
    val failed = rows.filterNot(_._2).map(_._1).toSeq
    val want = if (day(k) == Gen.Params.spikeDay) Seq("daily events anomaly")
               else Nil
    digests += f"${day(k)}:${rows.map { case (n, _, v) => s"$n=$v" }
      .mkString(";").hashCode}%08x"
    val got = rows.map { case (n, _, v) => n -> v }.toMap
    val wrong = expected(day(k)).toSeq.sorted.collect {
      case (n, want) if !got.get(n).exists(v =>
          math.abs(v - want) <= 1e-9 * math.max(1.0, math.abs(want))) =>
        s"$n=${got.get(n).map(_.toString).getOrElse("missing")} (expected $want)"
    }
    Seq(
      wrong.isEmpty -> s"run ${runId(k)} wrote wrong values: ${wrong.mkString(", ")}",
      (res.total == Gen.rowsPerRun && rows.length == Gen.rowsPerRun) ->
        (s"run ${runId(k)} wrote ${res.total} rows, expected ${Gen.rowsPerRun}"),
      (failed == want) -> (s"run ${runId(k)} failed checks [${failed.mkString(", ")}]," +
        s" expected [${want.mkString(", ")}]")
    ).collect { case (false, msg) => msg }
  }

  def committedBytes(c: Ctx, k: Int): Long =
    Files2.dataBytes(live(c).resolve(s"run_id=${runId(k)}"))

  override def cleanup(c: Ctx, k: Int): Unit = resetLedger(c)

  /** One untimed run, whose 10-15 s are mostly the cold JVM. Later runs
    * still speed up a little for a few more (about 6 s to 4.5 s on 4
    * cores), which the window's median absorbs. A 60 s run has room for
    * four timed runs after the set-up JVMs, input generation and the
    * warm-up run. */
  def warmupOps: Int = 1
  def windowOps: Int = 4

  private val digests = mutable.ArrayBuffer.empty[String]
  def digest: String = digests.mkString(",")

  /** Compiling the config, the anomaly job and the ledger's read and
    * append, on the seeded ledger. The append writes the seeded ledger's
    * latest run again under a new run id, into fresh copies of it. */
  def layers(c: Ctx, r: Layers.Probe): Unit = {
    val spark = c.spark
    val cfg = config(c, 0)
    r.time("plans.compile_s") { Runner.compile(cfg, spark, tables) }
    r.set("plans.rows_per_run", Gen.rowsPerRun.toDouble)
    val seeded = new MetricsStore(c.inputs.resolve("ledger").toString)
    val anomaly = cfg.checks.find(_.checkType == CheckType.Anomaly).get
    r.time("plans.anomaly_s") {
      AnomalyJob.run(anomaly, seeded.read(spark)).collect()
    }
    r.time("sources.store_read_s") { seeded.read(spark).count() }
    val ledger = seeded.read(spark)
    val latest = ledger.agg(max("run_id")).head().getString(0)
    val rows = ledger.filter(col("run_id") === latest)
      .withColumn("run_id", lit("probe-append"))
      .withColumn("id", concat(col("check_id"), lit("-probe-append")))
      .select(ledger.columns.map(col): _*).cache()
    rows.count()
    val copy = c.work.resolve("ledger-copy")
    val appends = (0 until 3).map { _ =>
      Files2.rmrf(copy)
      Files2.copyTree(c.inputs.resolve("ledger"), copy)
      val t0 = System.nanoTime()
      new MetricsStore(copy.toString).appendResumable(spark, rows)
      (System.nanoTime() - t0) / 1e9
    }
    r.set("sources.store_append_s", Stats.median(appends).get)
    r.set("sources.store_files", Files2.dataFiles(copy).toDouble)
    rows.unpersist()
    Files2.rmrf(copy)
  }
}
