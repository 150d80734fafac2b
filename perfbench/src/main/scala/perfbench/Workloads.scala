package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ext.Dedup
import graft.io.{ReadSql, WriteSql}
import graft.ops.{MatchMerge, NaLocfPlusOne, Ops}
import graft.streaming.CorpusStreams

/** Input sizes. `full` is the measured configuration; `tiny` is the
  * self-test's.
  */
final case class Sizes(orders: Long, extractWidth: Long,
    loadChunks: Int, standingDocs: Long,
    streamFiles: Int, docsPerFile: Int, nullPct: Int, dupPct: Int,
    etlWarmupOps: Int, streamWarmupRounds: Int)

object Sizes {
  val full: Sizes = Sizes(orders = 4000, extractWidth = 600,
    loadChunks = 2, standingDocs = 1600,
    streamFiles = 8, docsPerFile = 40, nullPct = 10, dupPct = 40,
    etlWarmupOps = 13, streamWarmupRounds = 4)
  val tiny: Sizes = Sizes(orders = 1500, extractWidth = 300,
    loadChunks = 2, standingDocs = 200,
    streamFiles = 3, docsPerFile = 30, nullPct = 10, dupPct = 40,
    etlWarmupOps = 1, streamWarmupRounds = 1)
}

/** One metric as reported: value, unit, sample count and extra fields. */
final case class M(value: Double, unit: String, n: Long,
    extra: Map[String, Any] = Map.empty) {
  def toMap: Map[String, Any] =
    Map[String, Any]("value" -> value, "unit" -> unit, "n" -> n) ++ extra
}

/** Everything one timed phase produced. */
final class Phase {
  val latencies = ArrayBuffer[Double]()
  var wallS = 0.0
  var rows = 0L
  var attempted = 0L
  val tracedOps = ArrayBuffer[Int]()
  val errors = ArrayBuffer[String]()
}

final class Ctx(val spark: SparkSession, val seed: Long, val dir: String,
    val cores: Int, val sizes: Sizes, val corruptExpected: Boolean,
    val tracer: Tracer) {
  def gen = new Gen(spark, seed)
  def path(parts: String*): String = Paths.get(dir, parts: _*).toString
  /** A per-seed deterministic long for the op variants (key ranges). */
  def draw(salt: String, i: Int, mod: Long): Long =
    java.lang.Math.floorMod(scala.util.hashing.MurmurHash3.stringHash(
      s"$seed/$salt/$i").toLong * 2654435761L + i, mod)
}

abstract class Workload(val ctx: Ctx) {
  /** Input sizes and shape, for the record. */
  def inputs: Map[String, Any]
  /** Builds all inputs of one set-up repetition. */
  def fixture(rep: Int): Unit
  /** A fixed number of untimed ops, so the timed phase starts past JIT
    * compilation and Spark's first-query costs. The count is fixed, not the
    * time, so the warm-up's share of `setup_s` follows the program's speed.
    */
  def warmup(): Unit
  /** Which warm-up this is, for the record. */
  def warmupDescription: String
  def phase(seconds: Double, traced: Boolean): Phase
  /** Checks every recorded op against the reference; returns failures. */
  def verify(): Long
  def layerMetrics(traced: Phase): Map[String, M]
  /** Spans of extra work that only the traced loop runs, beyond making
    * each layer's work happen inside its span; their wall is left out of
    * `trace.overhead_ratio`.
    */
  def tracedOnlySpans: Set[String] = Set.empty

  protected def spark: SparkSession = ctx.spark
  protected def tr: Tracer = ctx.tracer

  // observations recorded by the ops: (variant, observed values), None when
  // the op threw
  protected val observed = ArrayBuffer[(Int, Option[Seq[Long]])]()
  protected var opCounter = 0

  /** Closed loop with one client: the next op starts when the previous one
    * returns, until `seconds` have passed. `op` returns the input rows it
    * carried.
    */
  protected def closedLoop(seconds: Double, traced: Boolean)(
      op: (Int, Boolean) => Long): Phase = {
    val ph = new Phase
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      val i = opCounter
      opCounter += 1
      val s = System.nanoTime()
      ph.attempted += 1
      try {
        ph.rows += (if (traced) tr.span("op", i)(_ => op(i, true)) else op(i, false))
        if (traced) ph.tracedOps += i
      } catch {
        case e: Exception => ph.errors += s"op $i: ${e.toString.take(300)}"
      }
      ph.latencies += (System.nanoTime() - s) / 1e9
    }
    ph.wallS = (System.nanoTime() - t0) / 1e9
    ph
  }

  /** Observes (count, order-independent hash of `cols`) while writing `df`
    * to the noop sink: one action.
    */
  protected def checkedHash(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val obs = Observation(s"perfbench_${System.nanoTime()}")
    df.observe(obs, count(lit(1)).as("n"),
        coalesce(sum(Reference.rowHash(cols)), lit(0L)).as("h"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    (m("n").asInstanceOf[Long], m("h").asInstanceOf[Long])
  }

  /** Compares observations with `expected(variant)`. */
  protected def compare(expected: Int => Seq[Long]): Long = {
    val memo = mutable.HashMap[Int, Seq[Long]]()
    observed.count { case (v, got) =>
      val want = memo.getOrElseUpdate(v, {
        val e = expected(v)
        if (ctx.corruptExpected) e.updated(e.size - 1, e.last + 1) else e
      })
      !got.contains(want)
    }.toLong
  }

  // --- helpers shared by the layer metrics ---
  protected def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.quantile(xs, 0.5)

  protected def spansNamed(n: String): Seq[Tracer.Span] =
    tr.spans.filter(s => s.name == n && s.endNs > 0).toSeq

  /** Per traced op: the sum of `f` over that op's spans named `n`. */
  protected def perOp(ops: Seq[Int], n: String)(f: Tracer.Span => Double): Seq[Double] = {
    val byOp = spansNamed(n).groupBy(_.op)
    ops.map(o => byOp.getOrElse(o, Nil).map(f).sum)
  }

  protected def jobsIn(s: Tracer.Span): Seq[Tracer.Job] = tr.jobsOf(tr.subtree(s))

  /** Layer time, rate and task metrics for spans named `span`. */
  protected def layer(ops: Seq[Int], span: String, prefix: String): Map[String, M] = {
    val all = spansNamed(span).filter(s => ops.contains(s.op))
    val secs = perOp(ops, span)(tr.selfSeconds)
    val rows = all.map(_.counters.getOrElse("rows", 0.0)).sum
    val self = all.map(tr.selfSeconds).sum
    val tasks = perOp(ops, span)(s => jobsIn(s).map(_.tasks).sum.toDouble)
    Map(
      s"${prefix}_s" -> M(median(secs), "s", all.size,
        Map("stat" -> "median per op of summed self time", "ops" -> ops.size)),
      s"${prefix}_rows_per_s" -> M(if (self > 0) rows / self else 0.0, "rows/s",
        all.size, Map("rows" -> rows, "self_s" -> self)),
      s"${prefix}_tasks" -> M(median(tasks), "count", ops.size,
        Map("stat" -> "median per op")))
  }

  protected def opSpans(ops: Seq[Int]): Seq[Tracer.Span] =
    spansNamed("op").filter(s => ops.contains(s.op))

  /** Session metrics per op from the jobs charged to each op's span tree. */
  protected def sessionMetrics(units: Seq[(Double, Seq[Tracer.Job], Long, Long)]): Map[String, M] = {
    // each unit: (wall seconds, its jobs, start ms, end ms)
    val n = units.size.toLong
    def med(f: ((Double, Seq[Tracer.Job], Long, Long)) => Double) = median(units.map(f))
    def jsum(js: Seq[Tracer.Job])(g: Tracer.Job => Long) = js.map(g).sum.toDouble
    val per = Map("stat" -> "median per op")
    Map(
      "session.jobs" -> M(med(u => u._2.size.toDouble), "count", n, per),
      "session.stages" -> M(med(u => jsum(u._2)(_.stages.toLong)), "count", n, per),
      "session.tasks" -> M(med(u => jsum(u._2)(_.tasks)), "count", n, per),
      "session.executor_cpu_s" -> M(med(u => jsum(u._2)(_.cpuNs) / 1e9), "s", n, per),
      "session.executor_run_s" -> M(med(u => jsum(u._2)(_.runMs) / 1e3), "s", n, per),
      "session.gc_s" -> M(med(u => jsum(u._2)(_.gcMs) / 1e3), "s", n, per),
      "session.shuffle_read_bytes" -> M(med(u => jsum(u._2)(_.shuffleRead)), "bytes", n, per),
      "session.shuffle_write_bytes" -> M(med(u => jsum(u._2)(_.shuffleWrite)), "bytes", n, per),
      "session.spill_bytes" -> M(med(u => jsum(u._2)(_.spill)), "bytes", n, per),
      "session.driver_gap_s" -> M(med(u => Tracer.gapMs(u._2, u._3, u._4) / 1e3), "s", n,
        per ++ Map("meaning" -> "op wall with no job running")),
      "session.core_util" -> M(med(u =>
        if (u._1 > 0) jsum(u._2)(_.runMs) / 1e3 / (u._1 * ctx.cores) else 0.0), "1", n,
        per ++ Map("meaning" -> "executor run time / (op wall x cores)", "cores" -> ctx.cores)))
  }

  protected def opSessionMetrics(ops: Seq[Int]): Map[String, M] =
    sessionMetrics(opSpans(ops).map(s => (s.seconds, jobsIn(s), s.startMs, s.endMs)))

  protected def materialize(df: DataFrame, s: Tracer.Span): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    s.counters("rows") = p.count().toDouble
    p
  }
}

object Stats {
  /** Linear-interpolation quantile (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** The highest percentile with at least ten samples above it (nearest
    * rank: the 11th-largest sample): (percentile, value). None up to 20
    * samples, where that percentile would not lie above the median.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val s = xs.sorted
    val k = s.size - 10
    if (s.size <= 20) None else Some((100.0 * k / s.size, s(k - 1)))
  }
}

/** The reference's round trip: pushdown reads from Derby, the utility
  * operators, a chunked write back into Derby and a read-back of what
  * landed, checked against the plain-Spark reference.
  */
final class JdbcEtl(c: Ctx) extends Workload(c) {
  private val sz = ctx.sizes
  private val variants = 4
  private var url = ""
  private var liPath = ""
  private var ordPath = ""
  private var liRows = 0L

  def inputs: Map[String, Any] = Map(
    "lineitem_rows" -> liRows, "orders_rows" -> sz.orders,
    "null_share_l_discount" -> sz.nullPct / 100.0,
    "orderkey_range_per_op" -> sz.extractWidth, "range_variants" -> variants,
    "write_chunks_per_op" -> sz.loadChunks)

  private def range(v: Int): (Long, Long, Long) = {
    val a = 1 + ctx.draw("extract", v, sz.orders - sz.extractWidth)
    (a, a + sz.extractWidth / 2, a + sz.extractWidth)
  }

  def fixture(rep: Int): Unit = {
    val d = ctx.path(s"etl$rep")
    val g = ctx.gen
    g.lineitem(sz.orders, sz.nullPct).write.parquet(s"$d/lineitem")
    g.orders(sz.orders).write.parquet(s"$d/orders")
    val db = s"jdbc:derby:$d/db"
    DerbyLoad.exec(s"$db;create=true",
      "CREATE TABLE LINEITEM (L_ROWID BIGINT NOT NULL, L_ORDERKEY BIGINT, " +
        "L_PARTKEY BIGINT, L_SUPPKEY BIGINT, L_LINENUMBER INT, L_QUANTITY DOUBLE, " +
        "L_EXTENDEDPRICE DOUBLE, L_DISCOUNT DOUBLE, L_TAX DOUBLE, " +
        "L_RETURNFLAG VARCHAR(1), L_LINESTATUS VARCHAR(1), L_SHIPDATE DATE, " +
        "L_COMMENT VARCHAR(64))",
      "CREATE TABLE ORDERS (O_ORDERKEY BIGINT NOT NULL, O_CUSTKEY BIGINT, " +
        "O_ORDERSTATUS VARCHAR(1), O_TOTALPRICE DOUBLE, O_ORDERPRIORITY VARCHAR(15))")
    DerbyLoad.insert(spark.read.parquet(s"$d/lineitem"), db, "LINEITEM")
    DerbyLoad.insert(spark.read.parquet(s"$d/orders"), db, "ORDERS")
    DerbyLoad.exec(db, "CREATE INDEX LINEITEM_OK ON LINEITEM (L_ORDERKEY)",
      "ALTER TABLE ORDERS ADD PRIMARY KEY (O_ORDERKEY)")
    if (url.nonEmpty) DerbyLoad.shutdown(url)
    url = db
    liPath = s"$d/lineitem"
    ordPath = s"$d/orders"
    liRows = spark.read.parquet(liPath).count()
  }

  private def liQuery(a: Long, b: Long) =
    "SELECT L_ROWID, L_ORDERKEY, L_QUANTITY, L_EXTENDEDPRICE, L_DISCOUNT, " +
      s"L_RETURNFLAG, L_LINESTATUS FROM LINEITEM WHERE L_ORDERKEY >= $a AND L_ORDERKEY < $b"

  private val net: DataFrame => DataFrame = _.withColumn("NET",
    col("L_EXTENDEDPRICE") * (lit(1.0) - coalesce(col("L_DISCOUNT"), lit(0.0))))

  private def op(i: Int, traced: Boolean): Long = {
    val v = i % variants
    val (a, m, b) = range(v)
    val cached = ArrayBuffer[DataFrame]()
    val stepSpans = ArrayBuffer[Tracer.Span]()
    // untraced: plain calls; traced: a span per call, materialized so the
    // layer's work happens inside its span
    def step(span: String)(f: => DataFrame): DataFrame =
      if (!traced) f
      else tr.span(span, i) { s =>
        stepSpans += s
        val d = materialize(f, s)
        cached += d
        d
      }
    def inSpan[T](span: String)(f: Tracer.Span => T): T =
      if (traced) tr.span(span, i)(f) else f(null)
    try {
      val levels = Map("L_RETURNFLAG" -> Seq("A", "N", "R"))
      val first = step("io.read")(ReadSql(spark, url, liQuery(a, m),
        batchBytes = 256L << 10, transform = net, levels = levels))
      val li = step("io.read")(ReadSql(spark, url, liQuery(m, b),
        batchBytes = 256L << 10, transform = net, levels = levels,
        appendTo = Some(first)))
      if (traced) // the appended read's own rows
        stepSpans(1).counters("rows") -= stepSpans(0).counters("rows")
      val ord = step("io.read")(ReadSql(spark, url,
        "SELECT O_ORDERKEY, O_ORDERSTATUS, O_ORDERPRIORITY FROM ORDERS",
        partitionColumn = Some("O_ORDERKEY"), lowerBound = 1L,
        upperBound = sz.orders + 1, numPartitions = ctx.cores))
      val mm = step("ops.matchmerge")(MatchMerge.lookup(li, ord, Seq("L_ORDERKEY"),
        Seq("O_ORDERKEY"), "O_ORDERPRIORITY", "PRIO"))
      val rc = step("ops.recode")(
        Ops.recodeCol(mm, "L_LINESTATUS", Seq("O", "F"), Seq("open", "filled")))
      val fz = step("ops.factorise")(Ops.factorise(rc, cols = Seq("PRIO")))
      val nl = step("ops.nalocf")(NaLocfPlusOne(fz, "L_ROWID", "L_DISCOUNT", "DISC_FILLED"))
      // first chunk overwrites, the rest append; each WriteSql keeps its
      // default non-empty pre-check, which re-runs the upstream plan
      val parts = sz.loadChunks
      inSpan("io.write") { s =>
        (0 until parts).foreach { k =>
          WriteSql(nl.where(pmod(col("L_ROWID"), lit(parts.toLong)) === k), url, "ETL_OUT",
            overwrite = k == 0, append = k > 0)
        }
        if (s != null) s.counters("calls") = parts.toDouble
      }
      val (n, h) = inSpan("io.read") { s =>
        val r = checkedHash(ReadSql(spark, url,
          s"SELECT ${Reference.extractCols.mkString(", ")} FROM ETL_OUT"),
          Reference.extractCols)
        if (s != null) s.counters("rows") = r._1.toDouble
        r
      }
      if (traced) spansNamed("io.write").last.counters("rows") = n.toDouble
      observed += ((v, Some(Seq(n, h))))
      // rows fetched by the pipeline's reads plus rows inserted
      2 * n + sz.orders
    } catch {
      case e: Exception => observed += ((v, None)); throw e
    } finally cached.foreach(_.unpersist())
  }

  def warmup(): Unit = {
    // a failing op fails in the timed loop too, where it is counted
    (0 until sz.etlWarmupOps).foreach { _ =>
      val i = opCounter
      opCounter += 1
      try op(i, traced = false) catch { case _: Exception => () }
    }
    observed.clear()
  }

  def warmupDescription: String = s"${sz.etlWarmupOps} ops"

  def phase(seconds: Double, traced: Boolean): Phase =
    closedLoop(seconds, traced)(op)

  def verify(): Long = {
    val li = spark.read.parquet(liPath)
    val ord = spark.read.parquet(ordPath)
    compare { v =>
      val (a, m, b) = range(v)
      val (n, h) = Reference.countAndHash(
        Reference.extract(li, ord, Seq((a, m), (m, b))), Reference.extractCols)
      Seq(n, h)
    }
  }

  def layerMetrics(ph: Phase): Map[String, M] = {
    val ops = ph.tracedOps.toSeq
    def opsLayer(span: String, key: String, jobs: Boolean): Map[String, M] = {
      val secs = perOp(ops, span)(tr.selfSeconds)
      val base = Map(s"ops.${key}_s" -> M(median(secs), "s", ops.size,
        Map("stat" -> "median per op of self time")))
      if (!jobs) base
      else base + (s"ops.${key}_jobs" -> M(median(perOp(ops, span)(s =>
        jobsIn(s).size.toDouble)), "count", ops.size, Map("stat" -> "median per op")))
    }
    val writes = spansNamed("io.write").filter(s => ops.contains(s.op))
    val calls = writes.map(_.counters("calls")).sum
    val wjobs = writes.map(s => jobsIn(s).size).sum
    layer(ops, "io.read", "io.read") ++ layer(ops, "io.write", "io.write") ++ Map(
      "io.write_jobs_per_call" -> M(if (calls > 0) wjobs / calls else 0.0, "count",
        calls.toLong, Map("jobs" -> wjobs, "calls" -> calls))) ++
      opsLayer("ops.matchmerge", "matchmerge", false) ++
      opsLayer("ops.recode", "recode", false) ++ opsLayer("ops.factorise", "factorise", true) ++
      opsLayer("ops.nalocf", "nalocf", true) ++ opSessionMetrics(ops)
  }
}

/** Incremental dedup of staged micro-batches against a standing state. */
final class IncrementStream(c: Ctx) extends Workload(c) {
  private val sz = ctx.sizes
  private val threshold = 0.6
  private val checkpointEvery = 8
  private val params = Dedup.MinhashParams(64, 16, 3)
  private var docsPath = ""
  private var stateDir = ""
  private var stagedDir = ""
  private var cut = 0L
  private var round = 0
  // (count, hash) of each traced round's batch dedup over the whole corpus
  private val batchSurvivors = ArrayBuffer[(Long, Long)]()
  // progress events of each traced round: (round span id, batches)
  private val tracedRounds = ArrayBuffer[(Tracer.Span, Seq[org.apache.spark.sql.streaming.StreamingQueryProgress])]()

  def inputs: Map[String, Any] = Map(
    "standing_docs" -> sz.standingDocs,
    "increment_docs" -> sz.streamFiles * sz.docsPerFile, "staged_files" -> sz.streamFiles,
    "near_duplicate_share" -> sz.dupPct / 200.0, "words_per_doc" -> "60-100",
    "threshold" -> threshold, "checkpoint_every" -> checkpointEvery)

  def fixture(rep: Int): Unit = {
    val d = ctx.path(s"stream$rep")
    cut = sz.standingDocs
    ctx.gen.documents(cut + sz.streamFiles * sz.docsPerFile, sz.dupPct)
      .write.parquet(s"$d/docs")
    val docs = spark.read.parquet(s"$d/docs")
    val st = Dedup.minhashState(docs.where(col("doc_id") < cut), "doc_id", "text")
    Dedup.saveMinhashState(st, s"$d/state", st.params)
    // one file per micro-batch, in id order, with increasing mod-times
    docs.where(col("doc_id") >= cut).repartitionByRange(sz.streamFiles, col("doc_id"))
      .write.parquet(s"$d/parts")
    val parts = Files.list(Paths.get(s"$d/parts")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.getFileName.toString)
    val staged = Files.createDirectories(Paths.get(s"$d/staged"))
    val base = System.currentTimeMillis() - 1000000L
    parts.zipWithIndex.foreach { case (p, k) =>
      val t = staged.resolve(f"batch_$k%04d.parquet")
      Files.move(p, t)
      Files.setLastModifiedTime(t, FileTime.fromMillis(base + k * 2000L))
    }
    docsPath = s"$d/docs"
    stateDir = s"$d/state"
    stagedDir = staged.toString
  }

  private def parquetFiles(dir: String): Int =
    new File(dir).listFiles().count(_.getName.endsWith(".parquet"))
  private def stagedCount: Int = parquetFiles(stagedDir)

  /** One pass of the stream over all staged files; returns its batches. */
  private def runRound(traced: Boolean, files: String = stagedDir)
      : (Seq[org.apache.spark.sql.streaming.StreamingQueryProgress], Option[Seq[Long]]) = {
    val r = round
    round += 1
    val rd = ctx.path("rounds", s"r$r")
    copyTree(Paths.get(stateDir), Paths.get(rd, "state"))
    val before = tr.synchronized(tr.progress.size)
    def stream(): (Long, Long) = {
      val out = CorpusStreams.corpusDedupStreaming(spark, files, "doc_id", "text",
        threshold = threshold, checkpointEvery = checkpointEvery,
        sinkDir = Some(s"$rd/sink"), stateDir = Some(s"$rd/state"),
        checkpointDir = Some(s"$rd/ck"), batchAdaptive = Some(false))
      checkedHash(out, Seq("doc_id"))
    }
    val result =
      try {
        if (!traced) Some(stream())
        else tr.span("round", r) { rs =>
          // the standing state the stream is about to load, loaded and
          // saved once more through the public calls; saved before the
          // stream rewrites the directory it is read from
          val st = tr.span("ext.dedup.state_load", r) { s =>
            val st = Dedup.loadMinhashState(spark, s"$rd/state", params).get
            s.counters("rows") = (st.sets.count() + st.buckets.count()).toDouble
            st
          }
          tr.span("ext.dedup.state_save", r)(_ =>
            Dedup.saveMinhashState(st, s"$rd/state_saved", params))
          val res = tr.span("streaming.query", r)(_ => stream())
          batchDedup(r)
          Some(res)
        }
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] round $r failed: $e")
          None
      }
    // the last progress events may still be on the listener bus
    val want = parquetFiles(files)
    val deadline = System.currentTimeMillis() + 10000L
    def batches = tr.synchronized(tr.progress.drop(before).filter(_.numInputRows > 0).toVector)
    while (result.isDefined && batches.size < want && System.currentTimeMillis() < deadline)
      Thread.sleep(10)
    val bs = batches
    if (traced && result.isDefined) tracedRounds += ((tr.spans.filter(_.name == "round").last, bs))
    deleteTree(Paths.get(rd))
    (bs, result.map { case (n, h) => Seq(n, h) })
  }

  /** The batch face of the same code over every doc of the stream's
    * corpus (standing + increment), one public call per span: the
    * signature kernel alone to a noop sink, the band buckets, the verified
    * pairs and the dedup itself, whose survivors are checked.
    */
  private def batchDedup(r: Int): Unit = {
    val df = spark.read.parquet(docsPath)
    val docs = sz.standingDocs + sz.streamFiles * sz.docsPerFile
    tr.span("expressions.signature", r) { s =>
      Dedup.minhashSignature(df, "doc_id", "text").write.format("noop")
        .mode("overwrite").save()
      s.counters("rows") = docs.toDouble
    }
    tr.span("ext.dedup.candidates", r) { s =>
      s.counters("candidate_pairs") = Dedup.minhashState(df, "doc_id", "text").buckets
        .groupBy("band", "bh").count()
        .agg(coalesce(sum(col("count") * (col("count") - 1) / 2), lit(0.0)))
        .head().getDouble(0)
    }
    tr.span("ext.dedup.pairs", r) { s =>
      s.counters("verified_pairs") =
        Dedup.minhashPairs(df, "doc_id", "text", threshold).count().toDouble
    }
    batchSurvivors += tr.span("ext.dedup.dedup", r)(_ => checkedHash(
      Dedup.minhashDedup(df, "doc_id", "text", threshold), Seq("doc_id")))
  }

  def warmupDescription: String = s"${sz.streamWarmupRounds} rounds of 2 batches"

  def warmup(): Unit = {
    // whole rounds over the first two staged files
    val w = Files.createDirectories(Paths.get(ctx.path("warm_staged")))
    new File(stagedDir).listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName).take(2).foreach { f =>
        val t = w.resolve(f.getName)
        Files.copy(f.toPath, t)
        Files.setLastModifiedTime(t, Files.getLastModifiedTime(f.toPath))
      }
    (0 until sz.streamWarmupRounds).foreach(_ => runRound(traced = false, files = w.toString))
  }

  override def tracedOnlySpans: Set[String] = Set("ext.dedup.state_load",
    "ext.dedup.state_save", "expressions.signature", "ext.dedup.candidates",
    "ext.dedup.pairs", "ext.dedup.dedup")

  def phase(seconds: Double, traced: Boolean): Phase = {
    val ph = new Phase
    val t0 = System.nanoTime()
    val files = stagedCount
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      val (bs, res) = runRound(traced)
      ph.attempted += files
      observed += ((0, res))
      if (res.isEmpty) ph.errors += s"round ${round - 1} threw"
      else {
        ph.rows += bs.map(_.numInputRows).sum
        bs.foreach(b => ph.latencies += b.durationMs.get("triggerExecution").toDouble / 1e3)
        if (bs.size != files) ph.errors += s"round ${round - 1}: ${bs.size} of $files batch records"
      }
      if (traced) ph.tracedOps += round - 1
    }
    ph.wallS = (System.nanoTime() - t0) / 1e9
    ph
  }

  def verify(): Long = {
    val exact = Reference.exactDedupSurvivors(spark.read.parquet(docsPath), threshold)
    val exp = {
      val (n, h) = Reference.countAndHash(exact.where(col("doc_id") >= cut), Seq("doc_id"))
      Seq(n, h)
    }
    // a traced round's batch dedup must match the exact survivors too
    batchSurvivors.foreach { case (n, h) => observed += ((1, Some(Seq(n, h)))) }
    // every batch of a round whose survivors differ counts as failed
    compare {
      case 0 => exp
      case _ =>
        val (n, h) = Reference.countAndHash(exact, Seq("doc_id"))
        Seq(n, h)
    } * stagedCount
  }

  def layerMetrics(ph: Phase): Map[String, M] = {
    val rounds = tracedRounds.toSeq
    val bs = rounds.flatMap(_._2)
    def d(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).fold(0.0)(_.toDouble / 1e3)
    val addBatch = bs.map(d(_, "addBatch"))
    val machinery = bs.map(p => d(p, "triggerExecution") - d(p, "addBatch"))
    // the state collapse runs on every checkpointEvery-th batch of a query
    val collapse = rounds.flatMap { case (_, b) =>
      b.zipWithIndex.collect { case (p, k) if (k + 1) % checkpointEvery == 0 =>
        d(p, "triggerExecution") }
    }
    val units = rounds.flatMap { case (rs, b) =>
      val ids = tr.subtree(rs)
      b.map { p =>
        val js = tr.jobsOf(ids, Some(p.batchId))
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        val wall = d(p, "triggerExecution")
        (wall, js, start, start + (wall * 1e3).toLong)
      }
    }
    def spanMed(n: String, f: Tracer.Span => Double) =
      median(spansNamed(n).map(f))
    val per = Map("stat" -> "median per batch")
    batchDedupMetrics(rounds.map(_._1.op)) ++ Map(
      "streaming.batches" -> M(bs.size.toDouble, "count", rounds.size,
        Map("rounds" -> rounds.size)),
      "streaming.add_batch_s_p50" -> M(median(addBatch), "s", bs.size, per),
      "streaming.machinery_s_p50" -> M(median(machinery), "s", bs.size,
        per ++ Map("meaning" -> "triggerExecution - addBatch")),
      "streaming.jobs_per_batch" -> M(median(units.map(_._2.size.toDouble)), "count",
        bs.size, per),
      "streaming.collapse_batch_s_p50" -> M(median(collapse), "s", collapse.size,
        Map("meaning" -> s"triggerExecution of every ${checkpointEvery}th batch")),
      "ext.dedup.state_load_s" -> M(spanMed("ext.dedup.state_load", _.seconds), "s",
        spansNamed("ext.dedup.state_load").size,
        Map("call" -> "Dedup.loadMinhashState + count of both frames")),
      "ext.dedup.state_save_s" -> M(spanMed("ext.dedup.state_save", _.seconds), "s",
        spansNamed("ext.dedup.state_save").size,
        Map("call" -> "Dedup.saveMinhashState of the state loaded by state_load")),
      "ext.dedup.state_rows" -> M(spanMed("ext.dedup.state_load", _.counters("rows")),
        "count", spansNamed("ext.dedup.state_load").size,
        Map("meaning" -> "sets + buckets rows of the standing state"))
    ) ++ sessionMetrics(units).map { case (k, m) =>
      k -> m.copy(extra = m.extra ++ Map("stat" -> "median per batch")) }
  }

  private def batchDedupMetrics(ops: Seq[Int]): Map[String, M] = {
    def inOps(n: String) = spansNamed(n).filter(s => ops.contains(s.op))
    val sig = inOps("expressions.signature")
    val sigCpu = sig.map(s => jobsIn(s).map(_.cpuNs).sum).sum / 1e9
    val sigRows = sig.map(_.counters("rows")).sum
    val cand = inOps("ext.dedup.candidates").map(_.counters("candidate_pairs")).sum
    val ver = inOps("ext.dedup.pairs").map(_.counters("verified_pairs")).sum
    val pairs = perOp(ops, "ext.dedup.pairs")(_.seconds)
    val full = perOp(ops, "ext.dedup.dedup")(_.seconds)
    val per = Map("stat" -> "median per traced round",
      "input" -> "standing + increment docs in one batch call")
    Map(
      "ext.dedup.signature_s" -> M(median(perOp(ops, "expressions.signature")(_.seconds)),
        "s", ops.size, per ++ Map("call" -> "Dedup.minhashSignature to a noop sink")),
      "ext.dedup.pairs_s" -> M(median(pairs), "s", ops.size,
        per ++ Map("call" -> "Dedup.minhashPairs count")),
      "ext.dedup.antijoin_s" -> M(median(full.zip(pairs).map { case (f, p) => f - p }),
        "s", ops.size, per ++ Map("meaning" ->
          "Dedup.minhashDedup wall minus Dedup.minhashPairs wall in the same round")),
      "ext.dedup.candidate_pairs" -> M(if (ops.nonEmpty) cand / ops.size else 0.0, "count",
        ops.size, Map("meaning" -> "sum over band buckets of C(size, 2), per round")),
      "ext.dedup.verified_pairs" -> M(if (ops.nonEmpty) ver / ops.size else 0.0, "count",
        ops.size, Map("meaning" -> "pairs with Jaccard >= threshold, per round")),
      "ext.dedup.pair_yield" -> M(if (cand > 0) ver / cand else 0.0, "1", ops.size,
        Map("verified" -> ver, "candidates" -> cand)),
      "expressions.signature_rows_per_core_s" -> M(if (sigCpu > 0) sigRows / sigCpu else 0.0,
        "rows/s", sig.size, Map("rows" -> sigRows, "executor_cpu_s" -> sigCpu)))
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val w = Files.walk(from)
    try w.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    } finally w.close()
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
      .foreach(Files.delete)
    finally w.close()
  }
}
