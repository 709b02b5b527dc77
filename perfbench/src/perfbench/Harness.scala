package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{CacheBin, SessionMemo, Sessions, SparkEntry}
import graft.operators.{Expectations, GoldFeatures}
import graft.streaming.FileStreamIngest
import graft.tables.CommitLogTable

/** The benchmark's JVM side: plays the reference's notebooks against the
  * engine's public API and writes raw timings and trace records as JSON.
  *
  * Usage: `perfbench.Harness key=value ...` with keys
  *   workload  daily_incremental | backfill | analyst_reads | query_basket
  *   cores     Spark local cores
  *   seconds   length of the timed window
  *   trace     1 = attach the trace listeners around every op
  *   reps      set-up repetitions (setup_s is their median)
  *   input     generated inputs (setup/, ops/, reads.tsv)
  *   work      scratch root for tables and checkpoints
  *   data      basket dataset directory (query_basket)
  *   out       result JSON path
  *
  * Every op is timed from outside the engine; exports for the output
  * checks are written after the timed window closes.
  */
object Harness {

  val PricesSchema: StructType = StructType.fromDDL(
    "symbol STRING, as_of_date DATE, open DOUBLE, high DOUBLE, low DOUBLE, " +
      "close DOUBLE, volume BIGINT, fetched_at TIMESTAMP, source STRING, " +
      "endpoint STRING, request_id STRING, file_hash STRING")

  /** The reference's price expectations (`validation/expectations_prices
    * .json`, DLT drops at `docs/databricks_setup.md:273-274`).
    */
  val Rules: Seq[Expectations.Expectation] = Seq(
    Expectations.Expectation("symbol_not_null", col("symbol").isNotNull),
    Expectations.Expectation("date_not_null", col("as_of_date").isNotNull),
    Expectations.Expectation("volume_non_negative", col("volume") >= 0),
    Expectations.Expectation("close_non_negative", col("close") >= 0))

  val Keys: Seq[String] = Seq("symbol", "trade_date")

  /** The frozen round-1 query basket (29 queries), as `graft.Bench`
    * defines it.
    */
  val BasketR1: Seq[String] = Seq(
    "q1_pricing_summary", "q6_revenue_filter", "q_asof_purchase",
    "q_binary_meta", "q_cosine_topk", "q_count_by_type", "q_coverage",
    "q_day_filehash", "q_dedup_keeplast", "q_docs_exact_dedup", "q_dq_audit",
    "q_dup_props", "q_embed_neardup", "q_envelope", "q_fingerprint",
    "q_gold_features", "q_ivf_assign", "q_latest_day_monitor",
    "q_minhash_pairs", "q_month_chunks", "q_ngram_jaccard", "q_norm_events",
    "q_quarantine", "q_revenue_by_nation", "q_silver_merge", "q_simhash",
    "q_text_stats", "q_topk_users", "q_trading_calendar")

  final case class Op(kind: String, name: String, seconds: Double,
      ok: Boolean, err: String, traced: Boolean)

  final class Conf(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing $k="))
    def int(k: String): Int = apply(k).toInt
  }

  // ------------------------------------------------------------ pipeline

  /** One medallion root: landing dir, the four tables, checkpoints. */
  final class Root(val spark: SparkSession, val dir: String, val t: Tracer) {
    val landing = s"$dir/landing"
    val bronze = s"$dir/bronze"
    val silver = s"$dir/silver"
    val gold = s"$dir/gold"
    val quarantine = s"$dir/quarantine"
    Files.createDirectories(Paths.get(landing))
    /** Silver version after each drain, and the input files landed up to it. */
    val versions = ArrayBuffer.empty[Long]
    val versionFiles = ArrayBuffer.empty[Seq[String]]
    private val landedFiles = ArrayBuffer.empty[String]

    /** Land `file` (named relative to `input`) and drain it through. */
    def ingest(input: String, file: Path): Unit = {
      land(file)
      drain()
      landedFiles += Paths.get(input).relativize(file).toString
      versions += CommitLogTable.open(spark, silver).latestVersion
      versionFiles += landedFiles.toSeq
    }

    def create(): Unit = {
      val prices = spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), PricesSchema)
      CommitLogTable.create(spark, silver, toSilver(prices).schema)
      CommitLogTable.create(spark, quarantine,
        Expectations.quarantine(prices, Rules).schema)
      CommitLogTable.create(spark, gold, toGold(toSilver(prices)).schema)
    }

    /** Land one raw drop the way an uploader does: copy, then rename. */
    def land(file: Path): Unit = {
      val tmp = Paths.get(landing, s".${file.getFileName}.tmp")
      Files.copy(file, tmp, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp, Paths.get(landing, file.getFileName.toString),
        StandardCopyOption.ATOMIC_MOVE)
    }

    /** bronze → silver → gold, each a run-once drain. */
    def drain(): Unit = {
      t.span("bronze") {
        val df = FileStreamIngest.bronzeStream(spark, landing, PricesSchema)
        FileStreamIngest.runAvailableNowCommitLogAppend(df, bronze,
          s"$dir/_ck/bronze", s"perfbench-bronze-$dir")
      }
      var touched = Seq.empty[String]
      t.span("silver") {
        val src = t.span("sources.open") {
          val b = CommitLogTable.open(spark, bronze); b.latestVersion; b }
        val silverT = CommitLogTable.open(spark, silver)
        val quarT = CommitLogTable.open(spark, quarantine)
        FileStreamIngest.runAvailableNowForeachBatch(src.readChangesStream,
            s"$dir/_ck/silver") { batch =>
          val raw = batch.filter(col("_change_type") === "insert")
            .select(PricesSchema.fieldNames.map(col).toSeq: _*)
            .persist()
          try {
            touched = (touched ++ raw.filter(col("symbol").isNotNull)
              .select("symbol").distinct().collect().map(_.getString(0))).distinct
            t.span("tables.append") {
              quarT.append(Expectations.quarantine(raw, Rules))
            }
            t.span("tables.merge") {
              silverT.merge(toSilver(Expectations.enforce(raw, Rules)), Keys,
                Seq(col("fetched_at").desc))
            }
          } finally raw.unpersist(false)
        }
      }
      if (touched.nonEmpty) t.span("gold") {
        val hist = CommitLogTable.open(spark, silver).read()
          .filter(col("symbol").isin(touched: _*))
        val goldT = CommitLogTable.open(spark, gold)
        t.span("tables.merge") {
          goldT.merge(toGold(hist), Keys, Seq(col("trade_date")),
            recordChanges = false)
        }
      }
    }

    /** Bytes under the four tables and the stream checkpoints. */
    def bytes: Long = Seq(bronze, silver, gold, quarantine, s"$dir/_ck").map(Harness.dirBytes).sum
  }

  def toSilver(prices: DataFrame): DataFrame =
    prices.select(col("symbol"), col("as_of_date").as("trade_date"),
      col("open"), col("high"), col("low"), col("close"), col("volume"),
      col("fetched_at"), col("request_id"), col("file_hash"))

  /** The reference's gold view (`docs/databricks_setup.md:209-240`). */
  def toGold(silver: DataFrame): DataFrame =
    GoldFeatures.features(silver.select("symbol", "trade_date", "close"),
      Seq("symbol"), Seq(col("trade_date")), "close")
      .withColumnRenamed("prev_value", "prev_close")

  // ------------------------------------------------------------ utilities

  def dirBytes(d: String): Long = {
    val p = Paths.get(d)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  def dirFiles(d: String, suffix: String): Long = {
    val p = Paths.get(d)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.count(f => Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(suffix)).toLong
      finally s.close()
    }
  }

  def deleteTree(d: String): Unit = {
    val p = Paths.get(d)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
  }

  def listParquet(d: String): Seq[Path] = {
    val p = Paths.get(d)
    if (!Files.isDirectory(p)) Seq.empty
    else {
      val s = Files.list(p)
      try s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .toSeq.sortBy(_.getFileName.toString)
      finally s.close()
    }
  }

  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def q(s: String): String = "\"" + esc(s) + "\""

  def heapAfterGcMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(100) }
    mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  // ------------------------------------------------------------ main

  def main(args: Array[String]): Unit = {
    val conf = new Conf(args.map(_.split("=", 2)).collect {
      case Array(k, v) => k -> v }.toMap)
    val workload = conf("workload")
    val cores = conf.int("cores")
    val seconds = conf("seconds").toDouble
    val trace = conf("trace") == "1"
    val reps = conf.int("reps")
    val work = conf("work")
    val input = conf("input")

    val setupTimes = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var tracer: Tracer = null
    var state: AnyRef = null
    // every rep builds a fresh session and fresh tables; the last rep's
    // session and state serve the timed window. Rep 0 counts from JVM start.
    for (rep <- 0 until reps) {
      val r0 = if (rep == 0) System.currentTimeMillis() -
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
      else 0L
      val n0 = System.nanoTime()
      if (spark != null) {
        CacheBin.drainAll(); spark.stop(); deleteTree(s"$work/rep${rep - 1}")
      }
      spark = Sessions.build(s"local[$cores]", cores, "perfbench")
      spark.sparkContext.setLogLevel("ERROR")
      tracer = new Tracer(spark)
      val dir = s"$work/rep$rep"
      state = workload match {
        case "daily_incremental" => setupTables(spark, tracer, dir, input)
        case "analyst_reads" => warmReads(spark, setupTables(spark, tracer, dir, input), input)
        case "backfill" => setupBackfill(spark, tracer, dir, input)
        case "query_basket" => setupBasket(spark, conf("data"), s"$dir/_export")
        case other => sys.error(s"unknown workload $other")
      }
      setupTimes += r0 / 1e3 + (System.nanoTime() - n0) / 1e9
    }
    val ops = ArrayBuffer.empty[Op]
    val extra = new StringBuilder
    val w0 = System.nanoTime()
    val open = () => (System.nanoTime() - w0) / 1e9 < seconds
    var lastEnd = w0
    // traced runs attach the listeners around every op; spans are always on
    val timed: Timed = (kind, name) => body => {
      if (trace) tracer.attach()
      tracer.op = ops.size
      val n0 = System.nanoTime()
      val (ok, err) =
        try { tracer.span("op")(body); (true, "") }
        catch { case e: Throwable =>
          (false, s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}") }
      lastEnd = System.nanoTime()
      val sec = (lastEnd - n0) / 1e9
      tracer.op = -1
      if (trace) tracer.detach()
      ops += Op(kind, name, sec, ok, err, trace)
    }
    workload match {
      case "daily_incremental" =>
        runDaily(spark, state.asInstanceOf[Root], input, open, timed, extra, trace)
      case "analyst_reads" =>
        runReads(spark, state.asInstanceOf[Root], input, open, timed, extra)
      case "backfill" =>
        runBackfill(spark, tracer, work, input, open, timed, extra)
      case "query_basket" =>
        runBasket(spark, conf("data"), state.asInstanceOf[String], open, timed, extra)
    }
    // the untimed exports and checked passes after the last op
    val postWindowS = (System.nanoTime() - lastEnd) / 1e9
    tracer.quiesce()
    val heapMb = heapAfterGcMb()
    val memo = SessionMemo.buildSeconds.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    val spans = tracer.spans.asScala.map { case (n, o, a, b, s) =>
      s"[${q(n)},$o,$a,$b,$s]" }.mkString("[", ",", "]")
    val jobs = tracer.jobs.asScala.map { case (id, a, b, st) =>
      s"[$id,$a,$b,${st.mkString("[", ",", "]")}]" }.mkString("[", ",", "]")
    val stages = tracer.stages.asScala.map { case (id, at, n, run, sw, sp, gc, c) =>
      s"[$id,$at,$n,$run,$sw,$sp,$gc,$c]" }.mkString("[", ",", "]")
    val plans = tracer.plans.asScala.map { case (a, ms, f) => s"[$a,$ms,$f]" }
      .mkString("[", ",", "]")
    val progress = tracer.progress.asScala.map { case (a, n, ab, te) =>
      s"[$a,$n,$ab,$te]" }.mkString("[", ",", "]")
    val opsJson = ops.zipWithIndex.map { case (o, i) =>
      s"""{"i":$i,"kind":${q(o.kind)},"name":${q(o.name)},"seconds":${o.seconds},""" +
        s""""ok":${o.ok},"err":${q(o.err)},"traced":${o.traced}}"""
    }.mkString("[", ",", "]")
    val json =
      s"""{"workload":${q(workload)},"cores":$cores,"setup_reps_s":${setupTimes.mkString("[", ",", "]")},""" +
        s""""post_window_s":$postWindowS,""" +
        s""""ops":$opsJson,"heap_mb":$heapMb,"memo_build_s":$memo,""" +
        s""""spark_version":${q(spark.version)},"java_version":${q(System.getProperty("java.version"))},""" +
        s""""spans":$spans,"jobs":$jobs,"stages":$stages,"plans":$plans,"progress":$progress""" +
        extra.toString + "}"
    Files.writeString(Paths.get(conf("out")), json + "\n")
    spark.stop()
  }

  type Timed = (String, String) => (=> Any) => Unit

  /** Commit and physical-file deltas per table across the timed window. */
  final class TableStats(root: Root) {
    private def snap: Seq[(String, Long, Long, Long)] =
      Seq("bronze" -> root.bronze, "silver" -> root.silver, "gold" -> root.gold,
        "quarantine" -> root.quarantine).map { case (n, d) =>
        val v = if (CommitLogTable.exists(d))
          CommitLogTable.open(root.spark, d).latestVersion else 0L
        (n, v, dirFiles(d, ".parquet"), dirBytes(d))
      }
    private val before = snap
    def json: String = {
      val after = snap
      before.zip(after).map { case ((n, v0, f0, b0), (_, v1, f1, b1)) =>
        s"""${q(n)}:{"commits":${v1 - v0},"files_added":${f1 - f0},"bytes_added":${b1 - b0}}"""
      }.mkString(""","tables":{""", ",", "}")
    }
  }

  /** Untimed exports the output checks read: plain parquet snapshots of
    * silver at every version (the last is the final silver), the final gold
    * and quarantine, plus what the run needs to name its inputs.
    */
  def finish(spark: SparkSession, root: Root, extra: StringBuilder): Unit = {
    val out = s"${root.dir}/_export"
    val silverT = CommitLogTable.open(spark, root.silver)
    require(silverT.latestVersion == root.versions.last, "silver moved after the last drain")
    CommitLogTable.open(spark, root.gold).read().write.mode("overwrite").parquet(s"$out/gold")
    CommitLogTable.open(spark, root.quarantine).read().write.mode("overwrite")
      .parquet(s"$out/quarantine")
    root.versions.zipWithIndex.foreach { case (v, j) =>
      silverT.read(Some(v)).write.mode("overwrite").parquet(f"$out/silver_v$j%03d")
    }
    val hist = silverT.history.collect().map(r =>
      s"[${r.getLong(0)},${r.getLong(2)},${r.getLong(3)}]")
    extra ++= s""","silver_history":${hist.mkString("[", ",", "]")}"""
    extra ++= s""","silver_versions":${root.versions.mkString("[", ",", "]")}"""
    extra ++= s""","version_files":${root.versionFiles.map(_.map(q).mkString("[", ",", "]"))
      .mkString("[", ",", "]")}"""
    extra ++= s""","bytes_end":${root.bytes}"""
    extra ++= s""","export":${q(out)}"""
  }

  // ------------------------------------------------------------ daily_incremental

  /** Set-up of the table workloads: every set-up file landed and drained
    * in name order (the history, then any set-up waves).
    */
  def setupTables(spark: SparkSession, t: Tracer, dir: String, input: String): Root = {
    val root = new Root(spark, dir, t)
    root.create()
    listParquet(s"$input/setup").foreach(root.ingest(input, _))
    root
  }

  /** Market-day waves, each followed by one analyst read of every type
    * against the fresh tables. At least two waves run.
    */
  def runDaily(spark: SparkSession, root: Root, input: String,
      open: () => Boolean, timed: Timed,
      extra: StringBuilder, trace: Boolean): Unit = {
    val stats = new TableStats(root)
    val waves = listParquet(s"$input/ops")
    val specs = readSpecs(input).groupBy(_.kind)
    val gold = ArrayBuffer.empty[String]
    val last = scala.collection.mutable.LinkedHashMap.empty[String, Read]
    var i = 0
    while (i < waves.size && (i < 2 || open())) {
      val g0 = CommitLogTable.open(spark, root.gold).latestVersion
      timed("wave", waves(i).getFileName.toString) { root.ingest(input, waves(i)) }
      if (trace) gold += goldUseful(spark, root, g0)
      specs.keys.toSeq.sorted.foreach { k =>
        val r = specs(k)(i % specs(k).size)
        last(k) = r
        timed("read", k) { doRead(spark, root, r).collect() }
      }
      i += 1
    }
    extra ++= stats.json
    extra ++= s""","gold_useful":${gold.mkString("[", ",", "]")}"""
    exportReads(spark, root, last.values.toSeq, extra)
    finish(spark, root, extra)
    exportBackfill(spark, root, input)
  }

  /** [changed gold rows, recomputed gold rows] of the merge that made the
    * gold version after `g0` (traced runs only, outside the op's timing).
    * Every wave touches every symbol, so the notebook recomputes all of gold.
    */
  def goldUseful(spark: SparkSession, root: Root, g0: Long): String = {
    val g = CommitLogTable.open(spark, root.gold)
    val after = g.read(Some(g.latestVersion))
    s"[${after.exceptAll(g.read(Some(g0))).count()},${after.count()}]"
  }

  // ------------------------------------------------------------ backfill

  def setupBackfill(spark: SparkSession, t: Tracer, dir: String, input: String): AnyRef = {
    // the warm-up drop runs through a throwaway root, so the first timed
    // drop is not the session's first pipeline run
    val root = new Root(spark, dir, t)
    root.create()
    listParquet(s"$input/setup").foreach(root.ingest(input, _))
    deleteTree(dir)
    null
  }

  /** Whole backfills: each cycle lands every drop into empty tables. */
  def runBackfill(spark: SparkSession, t: Tracer, work: String, input: String,
      open: () => Boolean, timed: Timed,
      extra: StringBuilder): Unit = {
    val drops = listParquet(s"$input/ops")
    var cycle = 0
    var last: Root = null
    var stats = ""
    while (cycle == 0 || open()) {
      if (last != null) deleteTree(last.dir)
      val root = new Root(spark, s"$work/cycle$cycle", t)
      root.create()
      val st = new TableStats(root)
      drops.foreach(f => timed("drop", f.getFileName.toString) { root.ingest(input, f) })
      stats = st.json
      last = root
      cycle += 1
    }
    extra ++= stats
    finish(spark, last, extra)
  }

  // ------------------------------------------------------------ analyst reads

  final case class Read(kind: String, symbol: String, lo: String, hi: String, back: Int)

  def readSpecs(input: String): Seq[Read] =
    Files.readAllLines(Paths.get(s"$input/reads.tsv")).asScala.toSeq
      .filter(_.nonEmpty).map { l =>
        val a = l.split("\t", -1)
        Read(a(0), a(1), a(2), a(3), a(4).toInt)
      }

  /** How many silver versions back a time-travel or CDF read reaches:
    * the spec's value, capped by the versions that exist.
    */
  def backOf(root: Root, r: Read): Int = math.min(r.back, root.versions.size - 1)

  def doRead(spark: SparkSession, root: Root, r: Read): DataFrame = r.kind match {
    case "gold_range" =>
      CommitLogTable.open(spark, root.gold)
        .readRange("trade_date", java.sql.Date.valueOf(r.lo), java.sql.Date.valueOf(r.hi))
        .filter(col("symbol") === r.symbol)
    case "latest_day_dq" =>
      // the monitoring aggregates of docs/databricks_setup.md:300-341 over
      // the newest trade date: ingest monitor + per-symbol DQ counts
      val s = CommitLogTable.open(spark, root.silver).read()
      val newest = s.agg(max(col("trade_date"))).head().getDate(0)
      s.filter(col("trade_date") === lit(newest)).groupBy(col("symbol"))
        .agg(count(lit(1)).as("n"), max(col("fetched_at")).as("latest_ts"),
          sum(when(col("close") < 0 || col("volume") < 0, 1).otherwise(0)).cast("bigint").as("n_bad"),
          countDistinct(col("request_id")).as("n_requests"))
    case "time_travel" =>
      val v = root.versions(root.versions.size - 1 - backOf(root, r))
      CommitLogTable.open(spark, root.silver).read(Some(v))
        .groupBy(col("symbol"))
        .agg(count(lit(1)).as("n"), max(col("trade_date")).as("last_day"),
          max(col("fetched_at")).as("last_fetch"))
    case "cdf_range" =>
      val lo = root.versions(root.versions.size - 1 - backOf(root, r)) + 1
      CommitLogTable.open(spark, root.silver).readChanges(lo, root.versions.last)
        .select(col("_commit_version").as("commit_version"),
          col("_change_type").as("change_type"), col("symbol"),
          col("trade_date"), col("close"), col("fetched_at"))
    case "top_movers" =>
      val d = java.sql.Date.valueOf(r.lo)
      CommitLogTable.open(spark, root.gold).readRange("trade_date", d, d)
        .filter(col("daily_return").isNotNull)
        .orderBy(col("daily_return").desc, col("symbol"))
        .limit(10)
        .select("symbol", "trade_date", "close", "daily_return")
    case other => sys.error(s"unknown read $other")
  }

  /** One untimed read of every type, so no timed read is its kind's first. */
  def warmReads(spark: SparkSession, root: Root, input: String): Root = {
    readSpecs(input).groupBy(_.kind).values.map(_.head)
      .foreach(r => doRead(spark, root, r).collect())
    root
  }

  /** Once per run and read type: the result of the type's last read, for
    * the recomputation in the checks, with the snapshot facts it needs.
    */
  def exportReads(spark: SparkSession, root: Root, reads: Seq[Read],
      extra: StringBuilder): Unit = {
    reads.foreach { r =>
      doRead(spark, root, r).write.mode("overwrite")
        .parquet(s"${root.dir}/_export/read_${r.kind}")
    }
    extra ++= s""","checked":{${reads.map { r =>
      s"${q(r.kind)}:[${q(r.symbol)},${q(r.lo)},${q(r.hi)},${backOf(root, r)}]" }.mkString(",")}}"""
    val silverT = CommitLogTable.open(spark, root.silver)
    extra ++= s""","silver_files":${root.versions.map(v => silverT.fileCount(Some(v))).mkString("[", ",", "]")}"""
    extra ++= s""","gold_files":${CommitLogTable.open(spark, root.gold).fileCount()}"""
  }

  def runReads(spark: SparkSession, root: Root, input: String,
      open: () => Boolean, timed: Timed,
      extra: StringBuilder): Unit = {
    val specs = readSpecs(input)
    val last = scala.collection.mutable.LinkedHashMap.empty[String, Read]
    var i = 0
    while (i < specs.size && (i == 0 || open())) {
      val r = specs(i)
      timed("read", r.kind) { doRead(spark, root, r).collect() }
      last(r.kind) = r
      i += 1
    }
    require(!open(), "read list exhausted before the window closed")
    exportReads(spark, root, last.values.toSeq, extra)
    finish(spark, root, extra)
    exportBackfill(spark, root, input)
  }

  /** The same bars landed as one backfill drop into fresh tables, for the
    * check that the incremental run and a backfill converge to the same
    * silver and gold.
    */
  def exportBackfill(spark: SparkSession, root: Root, input: String): Unit = {
    val bf = new Root(spark, s"${root.dir}_backfill", root.t)
    bf.create()
    root.versionFiles.last.foreach(f => bf.land(Paths.get(input, f)))
    bf.drain()
    val out = s"${root.dir}/_export"
    CommitLogTable.open(spark, bf.silver).read().write.mode("overwrite")
      .parquet(s"$out/backfill_silver")
    CommitLogTable.open(spark, bf.gold).read().write.mode("overwrite")
      .parquet(s"$out/backfill_gold")
  }

  // ------------------------------------------------------------ query_basket

  lazy val Queries: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries

  /** Runs basket query `name` into `sink`, then drains its pinned frames. */
  def basketQuery(spark: SparkSession, data: String, name: String)(
      sink: DataFrame => Unit): Unit =
    try sink(Queries(name)(spark, data)) finally CacheBin.drain()

  val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

  /** The untimed first pass: the session's memo builds land here. */
  def setupBasket(spark: SparkSession, data: String, out: String): String = {
    BasketR1.foreach(basketQuery(spark, data, _)(noop))
    out
  }

  /** Whole passes over the basket, materialised through the noop sink, until
    * the window closes; at least one. One untimed pass after the window writes
    * each query's output for the oracle check, so the memo-reusing path the
    * timed passes take is the one checked.
    */
  def runBasket(spark: SparkSession, data: String, out: String,
      open: () => Boolean, timed: Timed, extra: StringBuilder): Unit = {
    val blocks = ArrayBuffer.empty[Int]
    do BasketR1.foreach { name =>
      timed("query", name) { basketQuery(spark, data, name)(noop) }
      blocks += spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions).sum
    } while (open())
    BasketR1.foreach { name =>
      basketQuery(spark, data, name)(_.write.mode("overwrite").parquet(s"$out/$name"))
    }
    extra ++= s""","cached_blocks":${blocks.mkString("[", ",", "]")}"""
    extra ++= s""","oracle_sql":{${BasketR1.map(n =>
      s"${q(n)}:${q(SparkEntry.oracleSql.getOrElse(n, ""))}").mkString(",")}}"""
    extra ++= s""","export":${q(out)}"""
  }
}
