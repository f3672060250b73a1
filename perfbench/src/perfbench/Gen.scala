package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator. Reads only the texts vendored under
  * `perfbench/texts` (one sentence per line, one file per language) and
  * derives every page, check table and ledger row from `seed`, so the same
  * seed gives byte-identical inputs. All traffic parameters live in
  * [[Gen.Params]] and are fixed before any measurement.
  */
object Gen {

  object Params {
    // language mix (share of prose pages); zh/ja/th are written unsegmented
    val langMix: Seq[(String, Double)] = Seq("en" -> 0.42, "de" -> 0.08,
      "fr" -> 0.07, "es" -> 0.07, "ru" -> 0.06, "it" -> 0.04, "pt" -> 0.04,
      "nl" -> 0.03, "zh" -> 0.07, "ja" -> 0.07, "th" -> 0.05)
    val noSpace = Set("zh", "ja", "th")
    // Common-Crawl-like length: lognormal around a few KB, clipped to
    // 1.6x the vendored pool of the page's language so reused sentences
    // stay rare
    val lengthMedianChars = 2400.0
    val lengthSigma = 0.6
    val minChars = 300
    val poolReuse = 1.6
    // per-word (per-char for no-space scripts) substitution rate that
    // makes every sampled sentence unique
    val wordSubst = 0.12
    val charSubst = 0.06
    // page class shares (the rest is clean prose)
    val qualityFailShare = 0.18
    val piiShare = 0.06
    val exactDupShare = 0.05
    // hosts: Zipf(s) over hostCount hosts; crawl days within a bounded span
    val hostCount = 200
    val hostZipfS = 1.1
    val crawlDays = 7
    // near-dup clusters: Zipf(s) sizes in [2, maxClusterSize], drawn until
    // nearDupShare of the shard is covered; variants edit nearDupEditRate
    // of the words of the cluster's base page. The cap keeps one cluster
    // from swinging a shard's text volume between seeds.
    val nearDupShare = 0.10
    val clusterZipfS = 1.6
    val maxClusterSize = 64
    val nearDupEditRate = 0.015
    // checks tables: daily event counts uniform in +-dayNoise around
    // eventsPerDay; one spike day at spikeFactor x
    val runDays = 12
    val historyDays = 20
    val eventsPerDay = 1000
    val dayNoise = 0.08
    val spikeDay = 1
    val spikeFactor = 3.0
    val countries = Seq("US", "DE", "FR", "BR", "IN", "JP", "GB", "TH")
    val devices = Seq("web", "ios", "android")
    val tiers = Seq("free", "plus", "pro")
    val users = 2000
    val firstRunDay = java.time.LocalDate.of(2024, 7, 1)
    // parquet files per page shard (one scan task each)
    val filesPerShard = 8

    def describe: String =
      s"langMix=${langMix.map { case (l, w) => s"$l:$w" }.mkString(",")};" +
        s"lengthMedianChars=$lengthMedianChars;lengthSigma=$lengthSigma;" +
        s"minChars=$minChars;poolReuse=$poolReuse;wordSubst=$wordSubst;" +
        s"charSubst=$charSubst;qualityFailShare=$qualityFailShare;" +
        s"piiShare=$piiShare;exactDupShare=$exactDupShare;" +
        s"hostCount=$hostCount;hostZipfS=$hostZipfS;crawlDays=$crawlDays;" +
        s"nearDupShare=$nearDupShare;clusterZipfS=$clusterZipfS;" +
        s"maxClusterSize=$maxClusterSize;" +
        s"nearDupEditRate=$nearDupEditRate;runDays=$runDays;" +
        s"historyDays=$historyDays;eventsPerDay=$eventsPerDay;" +
        s"dayNoise=$dayNoise;spikeDay=$spikeDay;spikeFactor=$spikeFactor"
  }
  import Params._

  /** `lang` is the planted language ("-" for planted quality failures). */
  final case class Page(url: String, host: String, crawlDay: String,
                        text: String, kind: String, lang: String)

  /** Vendored sentence pools, by language. */
  final class Texts(dir: Path) {
    val pools: Map[String, Array[String]] = langMix.map { case (l, _) =>
      val f = dir.resolve(s"$l.txt")
      l -> new String(Files.readAllBytes(f), UTF_8).split("\n")
        .map(_.trim).filter(_.nonEmpty)
    }.toMap
    val vocab: Map[String, Array[String]] = pools.map { case (l, ss) =>
      l -> (if (noSpace(l)) ss.flatMap(_.map(_.toString)).distinct
            else ss.flatMap(_.split(" ")).distinct)
    }
    val poolChars: Map[String, Int] = pools.map { case (l, ss) =>
      l -> ss.map(_.length).sum }
  }

  private def zipf(rnd: Random, n: Int, s: Double,
                   cdf: Array[Double]): Int = {
    val u = rnd.nextDouble() * cdf(n - 1)
    val i = java.util.Arrays.binarySearch(cdf, u)
    if (i >= 0) i else math.min(-i - 1, n - 1)
  }

  private def zipfCdf(n: Int, s: Double): Array[Double] =
    (1 to n).map(k => 1.0 / math.pow(k, s)).scanLeft(0.0)(_ + _).tail.toArray

  private def pickLang(rnd: Random): String = {
    var u = rnd.nextDouble() * langMix.map(_._2).sum
    langMix.find { case (_, w) => u -= w; u <= 0 }.map(_._1)
      .getOrElse(langMix.head._1)
  }

  /** One mutated sentence: word (or char) substitutions from the
    * language's own vocabulary. */
  private def mutate(t: Texts, lang: String, s: String, rnd: Random): String = {
    val v = t.vocab(lang)
    if (noSpace(lang))
      s.map(c => if (rnd.nextDouble() < charSubst) v(rnd.nextInt(v.length)).head
                 else c)
    else s.split(" ").map(w =>
      if (rnd.nextDouble() < wordSubst) v(rnd.nextInt(v.length)) else w)
      .mkString(" ")
  }

  /** Clean prose of Common-Crawl-like length in one language. */
  def prose(t: Texts, lang: String, rnd: Random): String = {
    val cap = (t.poolChars(lang) * poolReuse).toInt
    val target = math.max(minChars, math.min(cap,
      (lengthMedianChars * math.exp(lengthSigma * rnd.nextGaussian())).toInt))
    val pool = rnd.shuffle(t.pools(lang).toSeq)
    val paras = ArrayBuffer.empty[String]
    val para = ArrayBuffer.empty[String]
    var len = 0
    var i = 0
    while (len < target) {
      val s = mutate(t, lang, pool(i % pool.length), rnd)
      i += 1
      para += s
      len += s.length + 1
      if (para.size >= 3 + rnd.nextInt(3)) {
        paras += para.mkString(if (lang == "th" || !noSpace(lang)) " " else "")
        para.clear()
      }
    }
    if (para.nonEmpty)
      paras += para.mkString(if (lang == "th" || !noSpace(lang)) " " else "")
    paras.mkString("\n")
  }

  private val navItems = Array("Home", "About", "Products", "Services",
    "Blog", "Careers", "Contact", "Login", "Register", "Privacy", "Terms")
  private val codeIds = Array("val", "def", "return", "if", "else", "for",
    "while", "int", "string", "foo", "bar", "baz", "result", "index")

  /** A page built to fail the default rules: short, symbol soup, keyword
    * stuffing, navigation boilerplate or a code block. */
  def qualityFail(t: Texts, rnd: Random): (String, String) =
    rnd.nextInt(5) match {
      case 0 => "fail_short" -> t.pools("en")(rnd.nextInt(t.pools("en").length))
        .split(" ").take(4 + rnd.nextInt(6)).mkString(" ")
      case 1 => "fail_symbols" -> (0 until 200 + rnd.nextInt(400))
        .map(_ => "@#$%^&*|~" (rnd.nextInt(9)).toString * (1 + rnd.nextInt(3)))
        .mkString(" ")
      case 2 =>
        val v = t.vocab("en")
        "fail_stuffing" -> ((v(rnd.nextInt(v.length)) + " ") * (200 + rnd.nextInt(300)))
      case 3 =>
        val menu = (0 until 6 + rnd.nextInt(5))
          .map(_ => navItems(rnd.nextInt(navItems.length))).mkString(" | ")
        "fail_nav" -> (Seq.fill(8 + rnd.nextInt(8))(menu) :+
          "Copyright 2024 Example Corp All rights reserved").mkString("\n")
      case _ => "fail_code" -> (0 until 30 + rnd.nextInt(40)).map { k =>
        s"${codeIds(rnd.nextInt(codeIds.length))} x$k = " +
          s"${codeIds(rnd.nextInt(codeIds.length))}(${rnd.nextInt(100)}, " +
          s"\"${codeIds(rnd.nextInt(codeIds.length))}\");"
      }.mkString("\n")
    }

  /** The planted e-mail of PII page `j` of a shard: scrub must remove it. */
  def piiEmail(seed: Long, shard: Int, j: Int): String =
    s"reader$seed.$shard.$j@mail.example.org"

  private def withPii(text: String, email: String, rnd: Random): String = {
    val cut = text.indexOf(' ', text.length / 2) match {
      case -1 => text.length
      case c  => c
    }
    text.substring(0, cut) + s" Write to $email or call " +
      f"+1 555-${rnd.nextInt(1000)}%03d-${rnd.nextInt(10000)}%04d, server " +
      s"10.${rnd.nextInt(256)}.${rnd.nextInt(256)}.7." + text.substring(cut)
  }

  /** Near-dup variant: edits `nearDupEditRate` of the words (chars for
    * no-space scripts) by substitution, insertion or deletion. */
  private def edit(t: Texts, lang: String, text: String, rnd: Random): String = {
    val v = t.vocab(lang)
    val units: Seq[String] =
      if (noSpace(lang)) text.map(_.toString) else text.split(" ").toSeq
    val out = ArrayBuffer.empty[String]
    units.foreach { u =>
      if (rnd.nextDouble() < nearDupEditRate) rnd.nextInt(3) match {
        case 0 => out += v(rnd.nextInt(v.length))
        case 1 => out += u; out += v(rnd.nextInt(v.length))
        case _ => ()
      } else out += u
    }
    out.mkString(if (noSpace(lang)) "" else " ")
  }

  /** `n` pages for shard `shard`, stratified so every seed gives the same
    * mix: exact counts per class and, for prose and PII pages, per
    * language; near-dup clusters take Zipf sizes. Pages are shuffled
    * before urls, hosts and crawl days are assigned.
    */
  def pages(t: Texts, seed: Long, shard: Int, n: Int): Seq[Page] = {
    val rnd = new Random(seed * 1000003L + shard)
    def count(share: Double) = math.round(n * share).toInt
    val (nFail, nPii, nDup, nNear) = (count(qualityFailShare), count(piiShare),
      count(exactDupShare), count(nearDupShare))
    val nProse = n - nFail - nPii - nDup - nNear
    val quota = rnd.shuffle(langMix.flatMap { case (l, w) =>
      Seq.fill(math.round((nProse + nPii) * w / langMix.map(_._2).sum).toInt)(l)
    }).iterator
    def nextLang() = if (quota.hasNext) quota.next() else pickLang(rnd)
    // (text, kind, lang)
    val docs = ArrayBuffer.empty[(String, String, String)]
    val clusterCdf = zipfCdf(maxClusterSize - 1, clusterZipfS)
    var near = 0
    while (near < nNear) {
      val size = math.min(nNear - near,
        2 + zipf(rnd, maxClusterSize - 1, clusterZipfS, clusterCdf))
      val lang = pickLang(rnd)
      val base = prose(t, lang, rnd)
      docs += ((base, "neardup", lang))
      (1 until size).foreach(_ =>
        docs += ((edit(t, lang, base, rnd), "neardup", lang)))
      near += size
    }
    val prosePages = (0 until nProse).map { _ =>
      val lang = nextLang()
      (prose(t, lang, rnd), lang)
    }
    val copied = (0 until nDup).map(_ => rnd.nextInt(nProse))
    val copiedSet = copied.toSet
    prosePages.zipWithIndex.foreach { case ((text, lang), j) =>
      docs += ((text, if (copiedSet(j)) "exactdup" else "prose", lang))
    }
    copied.foreach { j =>
      val (text, lang) = prosePages(j)
      docs += ((text, "exactdup", lang))
    }
    (0 until nPii).foreach { j =>
      val lang = nextLang()
      docs += ((withPii(prose(t, lang, rnd), piiEmail(seed, shard, j), rnd),
        "pii", lang))
    }
    (0 until nFail).foreach { _ =>
      val (kind, text) = qualityFail(t, rnd)
      docs += ((text, kind, "-"))
    }
    val hostCdf = zipfCdf(hostCount, hostZipfS)
    rnd.shuffle(docs.toSeq).zipWithIndex.map { case ((text, kind, lang), i) =>
      val host = s"site${zipf(rnd, hostCount, hostZipfS, hostCdf)}.example.com"
      Page(s"https://$host/s$seed/p$shard/$i", host,
        firstRunDay.minusDays(1L + rnd.nextInt(crawlDays)).toString,
        text, kind, lang)
    }
  }

  val pageSchema: StructType = StructType(Seq(
    StructField("url", StringType, nullable = false),
    StructField("host", StringType, nullable = false),
    StructField("crawl_day", StringType, nullable = false),
    StructField("text", StringType, nullable = false)))

  // ---- checks_daily tables -------------------------------------------

  /** Event count of run day `d` (0-based): uniform noise, one spike. */
  def dayCount(seed: Long, d: Int): Int = {
    val r = new Random(seed * 7919L + d)
    val c = eventsPerDay * (1.0 + dayNoise * (2 * r.nextDouble() - 1))
    (if (d == spikeDay) c * spikeFactor else c).toInt
  }

  def runDay(d: Int): String = firstRunDay.plusDays(d.toLong).toString

  /** events(event_id, event_day, ts, country, device, amount, user_id,
    * status, note) over `runDays` days. */
  def eventRows(seed: Long): Seq[Row] = {
    val rnd = new Random(seed * 31L + 17)
    val rows = ArrayBuffer.empty[Row]
    var id = 0L
    (0 until runDays).foreach { d =>
      val day = firstRunDay.plusDays(d.toLong)
      (0 until dayCount(seed, d)).foreach { k =>
        // every hour and every country appears every day
        val hour = if (k < 24) k else rnd.nextInt(24)
        val country = if (k < countries.size) countries(k)
                      else countries(rnd.nextInt(countries.size))
        val ts = java.sql.Timestamp.valueOf(
          day.atTime(hour, rnd.nextInt(60), rnd.nextInt(60)))
        rows += Row(id, day.toString, ts, country,
          devices(k % devices.size), 5.0 + rnd.nextInt(9000) / 100.0,
          rnd.nextInt(users).toLong,
          if (rnd.nextDouble() < 0.04) "refund" else "ok",
          if (rnd.nextDouble() < 0.3) null else s"n$k")
        id += 1
      }
    }
    rows.toSeq
  }

  /** What the value checks of each run day must write, computed from the
    * generated rows on the driver: day -> metric-row name -> actual_value. */
  def expectedValues(events: Seq[Row]): Map[Int, Map[String, Double]] =
    events.groupBy(_.getString(1)).map { case (day, rs) =>
      val amounts = rs.map(_.getDouble(5))
      val n = rs.size.toDouble
      java.time.LocalDate.parse(day).toEpochDay.toInt -
        firstRunDay.toEpochDay.toInt -> Map(
        "daily events" -> n,
        "revenue" -> amounts.sum,
        "max amount" -> amounts.max,
        "min amount" -> amounts.min,
        "avg amount" -> amounts.sum / n,
        // avg of the decimal literals 1.0/0.0 is decimal(6,5) in Spark SQL
        "refund share" -> (BigDecimal(rs.count(_.getString(7) == "refund")) /
          rs.size).setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble,
        "ids present_user_id_not_empty" -> 0.0,
        "ids present_country_not_empty" -> 0.0,
        "notes filled_note_not_empty_pct" -> rs.count(_.isNullAt(8)) / n)
    }

  /** events (rows of [[eventRows]]) and users(user_id, tier). */
  def checkTables(spark: SparkSession, rows: Seq[Row]): (DataFrame, DataFrame) = {
    val events = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(
        StructField("event_id", LongType), StructField("event_day", StringType),
        StructField("ts", TimestampType), StructField("country", StringType),
        StructField("device", StringType), StructField("amount", DoubleType),
        StructField("user_id", LongType), StructField("status", StringType),
        StructField("note", StringType))))
    val usersDf = spark.createDataFrame(spark.sparkContext.parallelize(
      (0 until users).map(u => Row(u.toLong, tiers(u % tiers.size))), 1),
      StructType(Seq(StructField("user_id", LongType),
        StructField("tier", StringType))))
    (events, usersDf)
  }

  /** The daily check config. `{{RUN_DAY}}` is rendered per run by
    * ConfigLoader; the two anomaly checks watch the ids of `daily events`
    * (spikes on the spike day) and `avg amount` (flat). */
  def checksYaml: String = {
    def id(name: String, ds: String) =
      graft.plans.CheckCompiler.checkId("default", name, ds)
    s"""version: 1
       |checks:
       |  - name: daily events
       |    dataset: events
       |    type: row_count
       |    filter: "event_day = '{{RUN_DAY}}'"
       |    condition: gt
       |    threshold: 100
       |  - name: revenue
       |    dataset: events
       |    type: sum
       |    measure: amount
       |    filter: "event_day = '{{RUN_DAY}}'"
       |    condition: gt
       |    threshold: 0
       |  - name: max amount
       |    dataset: events
       |    type: max
       |    measure: amount
       |    filter: "event_day = '{{RUN_DAY}}'"
       |    condition: le
       |    threshold: 100
       |  - name: min amount
       |    dataset: events
       |    type: min
       |    measure: amount
       |    filter: "event_day = '{{RUN_DAY}}'"
       |    condition: ge
       |    threshold: 0
       |  - name: avg amount
       |    dataset: events
       |    type: numeric
       |    measure: avg(amount)
       |    filter: "event_day = '{{RUN_DAY}}'"
       |    condition: between
       |    threshold: [10, 100]
       |  - name: refund share
       |    dataset: events
       |    type: measure
       |    measure: "avg(case when status = 'refund' then 1.0 else 0.0 end)"
       |    filter: "event_day = '{{RUN_DAY}}'"
       |    condition: lt
       |    threshold: 0.2
       |  - name: ids present
       |    dataset: events
       |    type: not_empty
       |    dimensions: [user_id, country]
       |    filter: "event_day = '{{RUN_DAY}}'"
       |    condition: eq
       |    threshold: 0
       |  - name: notes filled
       |    dataset: events
       |    type: not_empty_pct
       |    dimensions: [note]
       |    filter: "event_day = '{{RUN_DAY}}'"
       |    condition: lt
       |    threshold: 0.5
       |  - name: daily events anomaly
       |    dataset: metrics
       |    type: anomaly
       |    check_id: ${id("daily events", "events")}
       |    condition: between
       |    threshold: [-3.5, 3.5]
       |  - name: avg amount anomaly
       |    dataset: metrics
       |    type: anomaly
       |    check_id: ${id("avg amount", "events")}
       |    condition: between
       |    threshold: [-3.5, 3.5]
       |""".stripMargin
  }

  /** Metric rows one daily run writes: 6 global checks, 2 not_empty
    * dimensions, 1 not_empty_pct dimension, 2 anomaly checks. */
  val rowsPerRun: Int = 6 + 2 + 1 + 2

  val ledgerSchema: StructType = StructType(Seq(
    StructField("id", StringType), StructField("check_id", StringType),
    StructField("name", StringType), StructField("type", StringType),
    StructField("condition", StringType), StructField("threshold", DoubleType),
    StructField("threshold_list", ArrayType(DoubleType)),
    StructField("dataset", StringType), StructField("datasource", StringType),
    StructField("actual_value", DoubleType), StructField("success", BooleanType),
    StructField("fail", BooleanType), StructField("run_id", StringType),
    StructField("run_time", TimestampType), StructField("sql", StringType),
    StructField("tenant_id", IntegerType)))

  /** Seeded ledger history: `historyDays` daily runs before the first run
    * day, one row per global check (the watched `daily events` and
    * `avg amount` values drawn like the tables' own), in the program's
    * metric-row schema. */
  def history(spark: SparkSession, seed: Long): DataFrame = {
    val rnd = new Random(seed * 104729L + 5)
    val globals = Seq("daily events" -> "row_count", "revenue" -> "sum",
      "max amount" -> "max", "min amount" -> "min", "avg amount" -> "numeric",
      "refund share" -> "measure")
    val rows = (1 to historyDays).flatMap { h =>
      val day = firstRunDay.minusDays(h.toLong)
      val runId = s"hist-$day"
      val runTime = java.sql.Timestamp.valueOf(day.atStartOfDay())
      val n = eventsPerDay * (1.0 + dayNoise * (2 * rnd.nextDouble() - 1))
      globals.map { case (name, tpe) =>
        val v = name match {
          case "daily events" => n.toInt.toDouble
          case "revenue"      => n * 50.0
          case "max amount"   => 95.0 - rnd.nextInt(10) / 100.0
          case "min amount"   => 5.0 + rnd.nextInt(10) / 100.0
          case "avg amount"   => 50.0 + (rnd.nextDouble() - 0.5) * 1.5
          case _              => 0.04 + (rnd.nextDouble() - 0.5) * 0.01
        }
        val cid = graft.plans.CheckCompiler.checkId("default", name, "events")
        Row(s"$cid-$runId", cid, name, tpe, "gt", 0.0, null, "events",
          "default", v, true, false, runId, runTime, "", 1)
      }
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), ledgerSchema)
  }

  /** Writes the inputs of (workload, seed) under `dir` once; a `_READY`
    * marker makes later runs with the same seed reuse them. */
  def ensure(spark: SparkSession, texts: Path, dir: Path, workload: String,
             seed: Long): Unit = {
    val ready = dir.resolve("_READY")
    if (Files.exists(ready) &&
        new String(Files.readAllBytes(ready), UTF_8) == describe) return
    Files2.rmrf(dir)
    Files.createDirectories(dir)
    val t = new Texts(texts)
    val d = dir.toString
    workload match {
      case "filter_bulk" =>
        // one write job: contiguous slices of filesPerShard rows-ranges per
        // shard, partitioned by shard
        val shards = (0 until Sizes.filterShards).map(s =>
          pages(t, seed, s, Sizes.filterPages))
        shards.zipWithIndex.foreach { case (ps, s) =>
          writeManifest(dir.resolve(s"shard$s.tsv"), ps) }
        spark.createDataFrame(spark.sparkContext.parallelize(
            shards.zipWithIndex.flatMap { case (ps, s) =>
              ps.map(p => Row(p.url, p.host, p.crawlDay, p.text, s)) },
            filesPerShard * shards.size),
            pageSchema.add(StructField("shard", IntegerType)))
          .write.partitionBy("shard").parquet(s"$d/pages")
      case "checks_daily" =>
        val rows = eventRows(seed)
        writeExpected(dir.resolve("expected.tsv"), expectedValues(rows))
        val (events, users) = checkTables(spark, rows)
        events.write.mode("overwrite").parquet(s"$d/tables/events.parquet")
        users.write.mode("overwrite").parquet(s"$d/tables/users.parquet")
        history(spark, seed).coalesce(1)
          .write.partitionBy("run_id").mode("overwrite").parquet(s"$d/ledger")
        Files.write(dir.resolve("checks.yaml"), checksYaml.getBytes(UTF_8))
    }
    Files.write(ready, describe.getBytes(UTF_8))
  }

  /** Every parameter the inputs depend on: cached inputs made under other
    * parameters are regenerated. */
  def describe: String = Params.describe +
    s";filterShards=${Sizes.filterShards};filterPages=${Sizes.filterPages}" +
    ";manifest=url,kind,lang;expected=day,name,value"


  /** Expected check values, one "day, name, value" line each. */
  private def writeExpected(f: Path, e: Map[Int, Map[String, Double]]): Unit =
    Files.write(f, e.toSeq.sortBy(_._1).flatMap { case (d, vs) =>
      vs.toSeq.sorted.map { case (n, v) => s"$d\t$n\t$v" } }
      .mkString("\n").getBytes(UTF_8))

  def readExpected(f: Path): Map[Int, Map[String, Double]] =
    new String(Files.readAllBytes(f), UTF_8).split("\n").toSeq
      .map(_.split("\t")).groupBy(_(0).toInt)
      .map { case (d, ls) => d -> ls.map(l => l(1) -> l(2).toDouble).toMap }

  /** url, kind and planted language per page: what the output checks
    * compare against. */
  final case class Planted(url: String, kind: String, lang: String)

  private def writeManifest(f: Path, ps: Seq[Page]): Unit =
    Files.write(f, ps.map(p => s"${p.url}\t${p.kind}\t${p.lang}")
      .mkString("\n").getBytes(UTF_8))

  def readManifest(f: Path): Seq[Planted] =
    new String(Files.readAllBytes(f), UTF_8).split("\n").toSeq.map { l =>
      val a = l.split("\t"); Planted(a(0), a(1), a(2))
    }
}
