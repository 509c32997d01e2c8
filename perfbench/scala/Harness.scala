package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.StructType

import graft.cdc.{ChangeEvents, Changefeed}
import graft.ops.{Corpus, Curation, Dedup, Retrieval, Text, TextAnalysis}
import graft.streaming.CdcStream
import graft.util.GraftSession

/** JVM side of the end-to-end benchmark (`perfbench/run.py` launches it
  * once per run, in a fresh process).
  *
  * A run is: set-up (build a session through `GraftSession.builder`,
  * then `--warmups` passes of the workload over the warm-up input, a
  * separate draw of the same size), then `--passes` timed passes over
  * the timed input.
  * `GraftSession.releaseCaches` runs before every pass, so memo, ledger
  * and checkpoint builds are timed. Every output is forced with a
  * hash-reduce over all of its columns (the `graft.Bench` rule: a
  * `count()` would let Catalyst prune the encode work); the same
  * aggregate yields an order-independent digest, which must repeat in
  * every pass and must equal the digest of the DuckDB oracle's result
  * (`--check`, written by run.py before the run) for that output.
  *
  * With `--trace 1` the timed passes run untraced, then as many again
  * with [[Tracing]] installed, forcing each public entry point on its own
  * (prefix entries included), so the report carries per-layer numbers
  * and the tracing overhead. Layers of the other workloads are then
  * traced on their warm-up slices (`--probe`), so every traced run
  * reports every layer.
  *
  * Results go to the `--out` JSON file; nothing is printed to stdout. */
object Harness {

  final case class Digest(rows: Long, xor: Long, sum: Long)

  /** Forces `df` once and returns an order-independent digest (row
    * count, XOR and 32-bit sum of per-row xxhash64) for each column set. */
  def digests(df: DataFrame, sets: Seq[Seq[String]]): Seq[Digest] = {
    val hashes = sets.zipWithIndex.map { case (cs, i) =>
      xxhash64(cs.map(c => col(s"`$c`")): _*).as(s"h$i") }
    val aggs = sets.indices.flatMap { i =>
      val h = col(s"h$i")
      Seq(count(lit(1)), bit_xor(h), sum(h.bitwiseAND(lit(0xffffffffL))))
    }
    val r = df.select(hashes: _*).agg(aggs.head, aggs.tail: _*).head()
    sets.indices.map { i =>
      def l(j: Int) = if (r.isNullAt(3 * i + j)) 0L else r.getLong(3 * i + j)
      Digest(l(0), l(1), l(2))
    }
  }

  /** One output the benchmark forces: a metric prefix
    * (`<module>.<entry>`), its builder, whether it is a trace-only
    * prefix span, and whether its construction is worth a span (eager
    * memo or checkpoint builds). */
  final case class Entry(metric: String, build: (SparkSession, String) => DataFrame,
                         traceOnly: Boolean = false, construct: Boolean = false)

  trait Workload {
    /** One pass over `dir`; returns its wall time in seconds. */
    def iterate(spark: SparkSession, dir: String, rep: Report, traced: Boolean): Double
  }

  // ---------------------------------------------------------------- batch

  /** A workload made of batch entry points forced one after another. */
  final class BatchWorkload(entries: Seq[Entry], cache: Boolean) extends Workload {
    def iterate(spark: SparkSession, dir: String, rep: Report, traced: Boolean): Double = {
      var wall = 0.0
      for (e <- entries if traced || !e.traceOnly) {
        val t0 = System.nanoTime()
        rep.attempt(e.metric) {
          val df = e.build(spark, dir)
          val t1 = System.nanoTime()
          val d = rep.force(dir, e.metric, df)
          val t2 = System.nanoTime()
          if (traced) {
            if (e.construct) rep.layer(s"${e.metric}.construct_ms", (t1 - t0) / 1e6)
            rep.layer(s"${e.metric}.exec_ms", (t2 - t1) / 1e6)
            rep.layer(s"${e.metric}.rows_out", d.rows.toDouble)
          }
        }
        wall += (System.nanoTime() - t0) / 1e9
      }
      if (traced && cache) rep.layer("util.GraftSession.cache_peak_mb", cachedMb(spark))
      wall
    }
  }

  /** MB held by cached and checkpointed blocks (memory + disk). */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  private def cl(s: SparkSession, d: String) = ChangeEvents.changelog(s, d)
  // matches every table: kafka_canal's value column is codec_canal_json
  private val defaultCfg = Changefeed.Config()
  // sink_mysql_stmts declares its oracle at maxTxnRow = 2
  private val mysqlCfg = Changefeed.Config(maxTxnRow = 2)

  val backfill = new BatchWorkload(Seq(
    Entry("cdc.ChangeEvents.changelog", (s, d) => cl(s, d), traceOnly = true),
    Entry("cdc.Changefeed.filtered", (s, d) => Changefeed.filtered(cl(s, d), defaultCfg),
      traceOnly = true),
    Entry("cdc.Changefeed.kafka_canal", (s, d) => Changefeed.kafka(cl(s, d), defaultCfg)),
    // the registry entry is Changefeed.kafka with the registry's
    // debezium config, so config and oracle stay paired
    Entry("cdc.Changefeed.kafka_debezium",
      (s, d) => graft.SparkEntry.queries("changefeed_pipeline")(s, d)),
    Entry("cdc.Changefeed.mysql", (s, d) => Changefeed.mysql(cl(s, d), mysqlCfg)),
    Entry("cdc.Changefeed.snapshot", (s, d) => Changefeed.snapshot(cl(s, d), defaultCfg))),
    cache = false)

  val curation = new BatchWorkload(Seq(
    Entry("ops.Text.docTokens", Text.docTokens, construct = true),
    Entry("ops.Dedup.minhashLsh", (s, d) => Dedup.minhashLsh(s, d), construct = true),
    Entry("ops.Curation.dedupClusters", (s, d) => Curation.dedupClusters(s, d),
      construct = true),
    Entry("ops.Curation.qualityFilterBank", (s, d) => Curation.qualityFilterBank(s, d),
      construct = true),
    Entry("ops.TextAnalysis.qualityModelFilter",
      (s, d) => TextAnalysis.qualityModelFilter(s, d), traceOnly = true, construct = true),
    Entry("ops.TextAnalysis.perplexityBucket", TextAnalysis.perplexityBucket,
      traceOnly = true, construct = true),
    Entry("ops.Retrieval.decontaminateWinnow", (s, d) => Retrieval.decontaminateWinnow(s, d),
      traceOnly = true, construct = true),
    Entry("ops.Curation.curationFunnel", Curation.curationFunnel, construct = true),
    Entry("ops.Corpus.seqPack", (s, d) => Corpus.seqPack(s, d), construct = true)),
    cache = true)

  // ------------------------------------------------------------ streaming

  /** Closed-loop catch-up: the backlog replays one file per trigger
    * (`maxFilesPerTrigger=1`, `Trigger.AvailableNow`) through the
    * Kafka-frame pipeline (noop sink), then through the stateful LWW
    * snapshot (memory sink standing in for the MySQL-sink apply). The
    * latest image each key emitted is its final state, which is checked
    * like a batch output. */
  object catchup extends Workload {
    private var seq = 0

    private def finalState(spark: SparkSession, name: String): DataFrame = {
      val all = spark.table(name)
      all.groupBy(col("schema_name"), col("table_name"), col("pk"))
        .agg(max_by(struct(all.columns.map(col).toIndexedSeq: _*), col("last_ts")).as("s"))
        .select(col("s.*"))
        .filter(col("last_op") =!= "D")
        .drop("last_op")
    }

    private def withInput(p: Array[StreamingQueryProgress]) = p.filter(_.numInputRows > 0)
    private def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

    def iterate(spark: SparkSession, dir: String, rep: Report, traced: Boolean): Double = {
      import spark.implicits._
      seq += 1
      val ck = s"${rep.workDir}/ck-$seq"
      val name = s"perfbench_state_$seq"
      var wall = 0.0
      rep.attempt("streaming.CdcStream") {
        val t0 = System.nanoTime()
        val pipe = CdcStream.pipeline(spark, dir, maxFilesPerTrigger = Some(1))
          .writeStream.format("noop").outputMode("append")
          .option("checkpointLocation", s"$ck/pipeline")
          .trigger(Trigger.AvailableNow()).start()
        pipe.awaitTermination()
        val schema = spark.read.parquet(s"$dir/events.parquet").schema
        val raw = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(s"$dir/events.parquet*")
        val events = ChangeEvents.fromEvents(raw)
          .withColumn("before_value", col("before_value").cast("double"))
          .as[CdcStream.ChangeEvent]
        val st = CdcStream.snapshotState(events).toDF()
          .writeStream.format("memory").queryName(name).outputMode("update")
          .option("checkpointLocation", s"$ck/state")
          .trigger(Trigger.AvailableNow()).start()
        st.awaitTermination()
        wall = (System.nanoTime() - t0) / 1e9

        val pB = withInput(pipe.recentProgress)
        val stB = withInput(st.recentProgress)
        val expected = rep.inputRows(dir)
        if (pB.map(_.numInputRows).sum != expected || stB.map(_.numInputRows).sum != expected)
          throw new IllegalStateException(
            s"streams read ${pB.map(_.numInputRows).sum} / ${stB.map(_.numInputRows).sum}" +
              s" rows of a $expected-row backlog")
        if (traced) {
          val p = "streaming.CdcStream"
          rep.layer(s"$p.pipeline.batch_ms_p50", median(pB.map(dur(_, "triggerExecution"))))
          rep.layer(s"$p.pipeline.batches", pB.length.toDouble)
          rep.layer(s"$p.snapshotState.batch_ms_p50",
            median(stB.map(dur(_, "triggerExecution"))))
          for ((k, m) <- Seq("queryPlanning" -> "query_planning_ms_p50",
              "addBatch" -> "add_batch_ms_p50", "walCommit" -> "wal_commit_ms_p50",
              "latestOffset" -> "latest_offset_ms_p50"))
            rep.layer(s"$p.snapshotState.$m", median(stB.map(dur(_, k))))
          rep.layer(s"$p.snapshotState.state_commit_ms_p50",
            median(stB.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)))
          val last = stB.lastOption.toSeq.flatMap(_.stateOperators)
          rep.layer(s"$p.snapshotState.state_rows", last.map(_.numRowsTotal).sum.toDouble)
          rep.layer(s"$p.snapshotState.state_mb", last.map(_.memoryUsedBytes).sum / 1e6)
          rep.layer(s"$p.snapshotState.batches", stB.length.toDouble)
        }
        rep.force(dir, "streaming.CdcStream.snapshotState", finalState(spark, name))
      }
      spark.catalog.dropTempView(name)
      deleteTree(new File(ck))
      wall
    }
  }

  val workloads: Map[String, Workload] = Map(
    "changefeed_backfill" -> backfill,
    "changefeed_catchup" -> catchup,
    "curation_corpus" -> curation)

  // ------------------------------------------------------------- report

  /** An oracle comparison: the oracle's result as parquet and the
    * columns it shares with the engine's output. */
  final case class Check(oracle: String, columns: Seq[String])

  /** Collects everything the run reports and counts operations: every
    * forced output, every pass-to-pass digest comparison and every
    * oracle comparison is one attempted operation. */
  final class Report(val workDir: String, rows: Map[String, Long],
                     checks: Map[(String, String), Check]) {
    var attempted = 0L
    var failed = 0L
    val errors = mutable.ArrayBuffer[String]()
    val layers = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    // (dir, metric) -> (first digest of the checked columns, frame schema)
    private val seen = mutable.LinkedHashMap[(String, String), (Digest, StructType)]()

    def inputRows(dir: String): Long = rows.getOrElse(dir, -1L)

    def attempt[T](what: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch { case e: Throwable =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")
        None
      }
    }

    def fail(what: String): Unit = {
      failed += 1
      errors += what.take(400)
      System.err.println(s"[perfbench] FAILED $what")
    }

    def layer(name: String, v: Double): Unit =
      layers.getOrElseUpdate(name, mutable.ArrayBuffer()) += v

    /** Forces `df` (hash-reduce over every column) and records the
      * digest of its checked columns; a pass whose digest differs from
      * the first pass's fails. Returns the all-column digest. */
    def force(dir: String, metric: String, df: DataFrame): Digest = {
      val all = df.columns.toSeq
      val cols = checks.get((dir, metric)).map(_.columns).getOrElse(all)
      val missing = cols.filterNot(all.contains)
      if (missing.nonEmpty)
        throw new IllegalStateException(s"output lacks oracle columns $missing")
      val ds = digests(df, if (cols == all) Seq(all) else Seq(all, cols))
      seen.get((dir, metric)) match {
        case None => seen((dir, metric)) = (ds.last, df.schema)
        case Some((first, _)) =>
          attempted += 1
          if (first != ds.last) fail(s"$metric: digest differs between passes")
      }
      ds.head
    }

    /** Digest the oracle results (cast to the engine's column types)
      * and compare them with the timed outputs' digests. */
    def compareOracles(spark: SparkSession): Unit =
      for (((dir, metric), c) <- checks) attempt(s"$metric oracle") {
        val (got, schema) = seen.getOrElse((dir, metric),
          throw new IllegalStateException("output never computed"))
        val oracle = spark.read.parquet(c.oracle)
        val want = digests(oracle.select(c.columns.map(n =>
          col(s"`$n`").cast(schema(n).dataType).as(n)): _*), Seq(c.columns)).head
        if (got != want)
          throw new IllegalStateException(s"engine digest $got, oracle digest $want")
      }
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  // --------------------------------------------------------------- main

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toSeq.groupMap(_._1)(_._2)
    def one(k: String) = opt(k).head
    def many(k: String) = opt.getOrElse(k, Nil).map(_.split("\\|", -1).toSeq)
    val workload = workloads(one("workload"))
    val full = one("full")
    val warm = one("warm")
    val passes = one("passes").toInt
    val traced = one("trace") == "1"
    val cores = one("cores").toInt
    val warmups = one("warmups").toInt
    // --rows dir|n: input rows per directory (the streams' row check)
    val rows = many("rows").map(a => a(0) -> a(1).toLong).toMap
    // --check dir|metric|oracle parquet|col,col,...
    val checks = many("check").map(a =>
      (a(0), a(1)) -> Check(a(2), a(3).split(",").toSeq)).toMap
    // --probe workload|warm dir: other layers traced on their slices
    val probes = many("probe").map(a => a(0) -> a(1))
    val rep = new Report(one("work"), rows, checks)

    // set-up: session build, then a fixed number of warm-up passes over
    // an input of the timed input's size (the JIT and the session's
    // generated code converge over passes, not over rows)
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(s"local[$cores]", cores).getOrCreate()
    GraftSession.quietLogs(spark)
    // keep the progress of every micro-batch of a replay
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val t1 = System.nanoTime()
    for (_ <- 1 to warmups) {
      GraftSession.releaseCaches(spark)
      workload.iterate(spark, warm, rep, traced = false)
    }
    // let the JIT drain the compile backlog the warm-up queued (counted
    // in set-up); timed passes that start on a full compile queue are
    // the slowest of a run
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val warmed = System.nanoTime()
    var compiled = -1L
    while (jit.getTotalCompilationTime != compiled && System.nanoTime() - warmed < 15e9) {
      compiled = jit.getTotalCompilationTime
      Thread.sleep(1000)
    }
    val buildS = (t1 - t0) / 1e9
    val warmupS = (System.nanoTime() - t1) / 1e9
    phase("set-up done")

    // timed passes: a fixed count, so every run of a workload measures
    // the same work at the same point of the JIT's convergence
    def timed(n: Int, tr: Boolean): Seq[Double] = (1 to n).map { _ =>
      GraftSession.releaseCaches(spark)
      workload.iterate(spark, full, rep, tr)
    }
    val untraced = timed(passes, tr = false)
    val tracedWalls =
      if (!traced) Seq.empty
      else {
        val t = new Tracing(spark)
        val w = timed(passes, tr = true)
        t.finish(w.sum, cores, w.size).foreach { case (k, v) => rep.layer(k, v) }
        w
      }
    phase("timed passes done")

    // layers of the other workloads: one traced pass each on their
    // probe inputs (cold for this JVM, so only their shares compare)
    for ((w, dir) <- probes) {
      GraftSession.releaseCaches(spark)
      workloads(w).iterate(spark, dir, rep, traced = true)
    }
    rep.compareOracles(spark)
    spark.stop()
    phase("oracles compared")

    val report = Map(
      "build_s" -> buildS,
      "warmup_s" -> warmupS,
      "iterations" -> untraced,
      "traced_iterations" -> tracedWalls,
      "attempted" -> rep.attempted,
      "failed" -> rep.failed,
      "errors" -> rep.errors.toSeq,
      "layers" -> rep.layers.map { case (k, v) => k -> median(v.toSeq) })
    Files.write(Paths.get(one("out")), Json.render(report).getBytes(StandardCharsets.UTF_8))
  }

  private val started = System.nanoTime()
  private def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%.1f s: $what")
}

/** Writes `graft.SparkEntry.oracleSql` as JSON, so the DuckDB side of
  * the benchmark runs exactly the oracle SQL the registry declares. */
object OracleSql {
  def main(args: Array[String]): Unit =
    Files.write(Paths.get(args(0)),
      Json.render(graft.SparkEntry.oracleSql).getBytes(StandardCharsets.UTF_8))
}

/** Minimal JSON writer for the harness report (numbers, strings, maps
  * and sequences of them). */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Long => n.toString
    case n: Int => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
