package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum, when}

import graft.{Bench, Loader, SparkEntry}
import graft.schema.SchemaConform
import graft.sink.{ConnectionFactory, LoadStats, PostgresUpsertSink, UpsertSqlGen}
import graft.sources.SourceRegistry

/** One benchmark run in one JVM: set up, warm up, run the workload's
  * operations closed-loop (one at a time) for `--seconds`, then take the
  * checks and the traced-only probes outside the timed region. Writes one
  * JSON result for `run.py`, which checks it against the generated inputs.
  *
  * Workloads: `load_clean` / `load_poison` (one operation = one
  * `Loader.loadPostgres` of the feed into the pre-seeded table) and
  * `query_relational` (one operation = one pass over the 18
  * `Bench.baselineSubset` gates through the noop sink).
  */
object Main {
  private val Table = "bench_orders"

  final case class Args(workload: String, seconds: Double, trace: Boolean, data: String,
      out: String, cpus: Int, port: Int)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seconds").toDouble, m("trace") == "1", m("data"), m("out"),
      m("cpus").toInt, m.getOrElse("port", "0").toInt)
  }

  private val threadBean = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  /** CPU ns of every live application thread. JIT compiler and GC threads
    * are not application threads: their share of a short operation swings
    * with what the JVM happens to compile or collect during it.
    */
  private def threadCpuNs(): Map[Long, Long] = {
    val ids = threadBean.getAllThreadIds
    ids.zip(threadBean.getThreadCpuTime(ids)).filter(_._2 > 0).toMap
  }
  private def secs(ns: Long): Double = ns / 1e9

  /** Live heap after a full collection, in MiB. Spark's ContextCleaner
    * frees shuffle and broadcast state only after a collection has found
    * its owners unreachable, so a second collection follows its pass.
    */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  private def quantile(xs: Seq[Long], q: Double): Long = {
    val s = xs.sorted
    if (s.isEmpty) 0L else s(math.min(s.size - 1, math.ceil(q * s.size).toInt - 1).max(0))
  }

  /** One timed operation: wall time and application-thread CPU. */
  final case class Op(wallS: Double, cpuS: Double)
  private def timedOp(body: => Unit): Op = {
    val c0 = threadCpuNs()
    val t0 = System.nanoTime()
    body
    val wall = System.nanoTime() - t0
    val cpu = threadCpuNs().map { case (id, ns) => ns - c0.getOrElse(id, 0L) }.sum
    Op(secs(wall), secs(cpu))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    if (args.trace) Trace.enable()
    val spark = SparkSession.builder()
      .master(s"local[${args.cpus}]")
      .config("spark.sql.shuffle.partitions", args.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val engine = new EngineListener
    if (args.trace) spark.sparkContext.addSparkListener(engine)
    val result =
      try {
        if (args.workload.startsWith("load_")) runLoads(spark, args)
        else runQueries(spark, args, engine)
      } finally spark.stop()
    Files.writeString(Paths.get(args.out), Json.render(result + ("cpus" -> args.cpus)))
  }

  /** Seconds since this JVM started: its share of the run's set-up. */
  private def jvmUptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  /** Engine counts per operation, `n` operations in the timed region. */
  private def engineMetrics(spark: SparkSession, n: Double): Map[String, Double] = {
    PerfbenchBus.drain(spark.sparkContext)
    def c(name: String) = Trace.count(name) / n
    Map(
      "engine.jobs" -> c("engine.jobs"),
      "engine.tasks" -> c("engine.tasks"),
      "engine.executor_run_s" -> c("engine.executor_run_ms") / 1e3,
      "engine.executor_cpu_s" -> c("engine.executor_cpu_ns") / 1e9,
      "engine.gc_s" -> c("engine.gc_ms") / 1e3,
      "engine.shuffle_write_bytes" -> c("engine.shuffle_write_bytes"),
      "engine.shuffle_read_bytes" -> c("engine.shuffle_read_bytes"),
      "engine.spill_bytes" -> c("engine.spill_bytes"),
      "engine.result_bytes" -> c("engine.result_bytes"))
  }

  // ---------------------------------------------------------------- loads

  private def runLoads(spark: SparkSession, args: Args): Map[String, Any] = {
    val pg = PgAddress("127.0.0.1", args.port)
    val feed = s"${args.data}/feed.parquet"
    val base = s"${args.data}/base.csv"
    val cfg = Loader.LoadConfig(source = "parquet", path = feed, targetTable = s"public.$Table",
      parallelism = args.cpus)
    val catalog = new PsqlCatalog(pg)
    val factory = PsqlConnectionFactory(pg)
    val poisonKeys = Files.readAllLines(Paths.get(s"${args.data}/poison_keys.txt")).asScala
      .filter(_.nonEmpty).map(_.toLong).toSet

    def reset(): Unit =
      pg.psql(s"TRUNCATE $Table", s"\\copy $Table FROM '$base' CSV", "CHECKPOINT")
    def digest(): Map[String, Any] = {
      val Seq(line) = pg.psql(
        s"SELECT count(*), coalesce(sum(o_orderkey), 0), coalesce(sum(o_totalprice * 100), 0)::bigint FROM $Table")
      val Array(n, keys, cents) = line.split("\\|")
      Map("count" -> n.toLong, "key_sum" -> keys.toLong, "price_cents_sum" -> cents.toLong)
    }
    def pgStats(): Map[String, Long] = {
      val Seq(line) = pg.psql(
        "SELECT xact_commit, xact_rollback, tup_inserted, tup_updated, " +
          "pg_wal_lsn_diff(pg_current_wal_lsn(), '0/0')::bigint " +
          "FROM pg_stat_database WHERE datname = current_database()")
      Seq("xact_commit", "xact_rollback", "tup_inserted", "tup_updated", "wal_bytes")
        .zip(line.split("\\|").map(_.toLong)).toMap
    }

    // Traced: the five calls Loader.loadPostgres makes, each in its span,
    // with counting decorators on the catalog and connection seams.
    val tracedCatalog = new CountingCatalog(catalog)
    def tracedLoad(c: Loader.LoadConfig, f: ConnectionFactory): LoadStats = {
      val source = Trace.span("sources.load")(
        SourceRegistry(c.source).load(spark, c.path, c.sourceOptions))
      val conformed = Trace.span("schema.conform")(Loader.conformToTable(source, tracedCatalog, c))
      val key = tracedCatalog.uniqueKey(c.schema, c.table)
      val counting = CountingConnectionFactory(f, conformed.schema.fieldIndex("o_orderkey"))
      val stats = Trace.span("sink.upsert")(PostgresUpsertSink.upsert(
        conformed, c.targetTable, key, counting,
        batchSize = c.batchSize, parallelism = c.parallelism, partitionCols = c.partitionCols,
        colsNotForUpdate = c.colsNotForUpdate, maxRejects = c.maxRejects))
      Trace.add("load.loaded", stats.loaded)
      Trace.add("load.rejected", stats.rejected)
      stats
    }
    def load(c: Loader.LoadConfig): LoadStats =
      if (args.trace) Trace.operation("load")(tracedLoad(c, factory))
      else Loader.loadPostgres(spark, c, catalog, factory)

    def record(stats: LoadStats, op: Option[Op]): Map[String, Any] =
      Map("loaded" -> stats.loaded, "rejected" -> stats.rejected, "digest" -> digest()) ++
        op.map(o => Map("wall_s" -> o.wallS, "cpu_s" -> o.cpuS)).getOrElse(Map.empty)

    // Set-up: one untimed warm-up load of the feed's first rows (the first
    // load into a fresh cluster pays the server's cold caches and the JIT).
    reset()
    val warmCfg = cfg.copy(path = s"${args.data}/warmup.parquet")
    val warm =
      try record(load(warmCfg), None)
      catch { case e: Throwable => Map("error" -> s"warm-up load failed: ${e.getMessage}") }
    val setupS = jvmUptimeS
    Trace.resetCounts()

    val loads = Vector.newBuilder[Map[String, Any]]
    val pgDeltas = Vector.newBuilder[Map[String, Double]]
    var heapMb = 0.0
    var errors = Vector.empty[String]
    // Only operation time counts toward --seconds: the reset, the checks and
    // the heap census between operations do not.
    var measuredS = 0.0
    while (measuredS < args.seconds) {
      reset()
      val before = if (args.trace) pgStats() else Map.empty[String, Long]
      var stats: LoadStats = null
      val start = System.nanoTime()
      try {
        val op = timedOp { stats = load(cfg) }
        measuredS += op.wallS
        loads += record(stats, Some(op))
      } catch { case e: Throwable =>
        measuredS += secs(System.nanoTime() - start)
        errors :+= s"load failed: ${e.getMessage}"
        loads += Map("error" -> String.valueOf(e.getMessage))
      }
      if (args.trace && stats != null) {
        Thread.sleep(300) // closed backends flush their statistics on exit
        val after = pgStats()
        val rows = (stats.loaded + stats.rejected).toDouble
        pgDeltas += Map(
          "pg.xact_commit" -> (after("xact_commit") - before("xact_commit")).toDouble,
          "pg.xact_rollback" -> (after("xact_rollback") - before("xact_rollback")).toDouble,
          "pg.tup_inserted" -> (after("tup_inserted") - before("tup_inserted")).toDouble,
          "pg.tup_updated" -> (after("tup_updated") - before("tup_updated")).toDouble,
          "pg.wal_bytes_per_row" -> (after("wal_bytes") - before("wal_bytes")) / rows,
          "pg.table_bytes" -> pg.psql(s"SELECT pg_total_relation_size('$Table')").head.toDouble)
      }
      heapMb = math.max(heapMb, liveHeapMb())
    }
    val done = loads.result()
    val ops = done.flatMap(d => d.get("wall_s").map(w => Op(w.asInstanceOf[Double], d("cpu_s").asInstanceOf[Double])))
    val rowsPerLoad = done.collectFirst { case d if d.contains("loaded") =>
      (d("loaded").asInstanceOf[Long] + d("rejected").asInstanceOf[Long]).toDouble }.getOrElse(0.0)
    val opS = median(ops.map(_.wallS))
    val base0 = Map[String, Any](
      "setup_jvm_s" -> setupS,
      "warmup" -> warm,
      "loads" -> done,
      "errors" -> errors,
      "op_s" -> opS,
      "load_rows_per_s" -> (if (opS > 0) rowsPerLoad / opS else 0.0),
      "cpu_s" -> median(ops.map(_.cpuS)),
      "live_heap_peak_mb" -> heapMb)
    if (!args.trace) return base0

    // ---- traced-only layer metrics, all taken outside the timed region
    val n = ops.size.max(1).toDouble
    val sinkLayer = sinkMetrics(n)
    val catalogLayer = Map(
      "catalog.calls" -> (Trace.count("catalog.columnTypes.calls") + Trace.count("catalog.uniqueKey.calls")) / n,
      "catalog.s" -> (Trace.count("catalog.columnTypes.ns") + Trace.count("catalog.uniqueKey.ns")) / 1e9 / n)
    val engineLayer = engineMetrics(spark, n)
    val pgs = pgDeltas.result()
    val pgLayer = pgs.headOption.map(_.keys).getOrElse(Nil)
      .map(k => k -> median(pgs.map(_(k)))).toMap
    val spansPath = Paths.get(args.out).resolveSibling("spans.jsonl")
    Trace.writeSpans(spansPath)

    val probes = sourceAndSchemaProbes(spark, cfg, catalog)
    val floor = serverFloor(spark, cfg, catalog, pg, poisonKeys, reset _)
    val split =
      if (poisonKeys.isEmpty) Map.empty
      else {
        val inWarmup = warmCfg.copy(parallelism = 1)
        val rows = SourceRegistry(inWarmup.source).load(spark, inWarmup.path, Map.empty)
          .select("o_orderkey").collect().map(_.getLong(0)).toSet
        splitSelfCheck(poisonKeys.filter(rows.contains), reset _, () => tracedLoad(inWarmup, factory))
      }
    base0 ++ Map(
      "layers" -> (sinkLayer ++ catalogLayer ++ engineLayer ++ pgLayer ++ probes ++ floor),
      "split_check" -> split,
      "spans_file" -> spansPath.toString)
  }

  /** Sink-layer metrics per load, from the decorator's counts. */
  private def sinkMetrics(n: Double): Map[String, Double] = {
    def c(name: String) = Trace.count(name).toDouble
    val batches = Trace.samplesOf("sink.batch_ns")
    Map(
      "sink.upsert_s" -> c("sink.upsert.ns") / 1e9 / n,
      "sink.connects" -> c("sink.connects") / n,
      "sink.exec_calls" -> c("sink.exec_calls") / n,
      "sink.exec_rows" -> c("sink.exec_rows") / n,
      "sink.exec_failed" -> c("sink.exec_failed") / n,
      "sink.exec_s" -> c("sink.exec.ns") / 1e9 / n,
      "sink.savepoints" -> c("sink.savepoints") / n,
      "sink.rollbacks" -> c("sink.rollbacks") / n,
      "sink.commits" -> c("sink.commits") / n,
      "sink.commit_s" -> c("sink.commit.ns") / 1e9 / n,
      "sink.round_trips" -> c("sink.round_trips") / n,
      "sink.batch_s_p50" -> quantile(batches, 0.50) / 1e9,
      "sink.batch_s_p99" -> quantile(batches, 0.99) / 1e9,
      "sink.loaded" -> c("load.loaded") / n,
      "sink.rejected" -> c("load.rejected") / n,
      "sink.useful_ratio" -> (if (c("sink.exec_rows") > 0) c("load.loaded") / c("sink.exec_rows") else 0.0),
      "sink.task_s" -> c("sink.task_ns") / 1e9 / n,
      "sink.spark_side_s" -> (c("sink.task_ns") - c("sink.inside_ns")) / 1e9 / n)
  }

  /** `sources` and `schema` layers: the source frame and the conformed frame
    * each run through the noop sink (the load itself interleaves them with
    * the sink, so they are timed on their own), plus cells the cast nulled.
    */
  private def sourceAndSchemaProbes(spark: SparkSession, cfg: Loader.LoadConfig,
      catalog: PsqlCatalog): Map[String, Double] = {
    def noopS(df: DataFrame): Double = {
      val reps = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); df.write.format("noop").mode("overwrite").save(); secs(System.nanoTime() - t0)
      }
      median(reps)
    }
    val source = SourceRegistry(cfg.source).load(spark, cfg.path, cfg.sourceOptions)
    val conformed = Loader.conformToTable(source, catalog, cfg)
    val readS = noopS(source)
    val conformS = noopS(conformed)
    def nulls(df: DataFrame): Long =
      df.select(conformed.columns.map(c => sum(when(col(c).isNull, 1L).otherwise(0L))): _*)
        .head().toSeq.map(v => Option(v).map(_.asInstanceOf[Long]).getOrElse(0L)).sum
    val lowered = SchemaConform.lowercaseColumns(source)
    Map(
      "sources.read_s" -> readS,
      "sources.rows" -> source.count().toDouble,
      "schema.conform_s" -> math.max(0.0, conformS - readS),
      "schema.cast_null_cells" -> (nulls(conformed) - nulls(lowered)).toDouble)
  }

  /** The server floor: the same upserts replayed over `cpus` psql
    * connections with no Spark in the path, one commit per 1000 rows.
    * Rows the server would reject are left out, so every batch commits.
    */
  private def serverFloor(spark: SparkSession, cfg: Loader.LoadConfig, catalog: PsqlCatalog,
      pg: PgAddress, poison: Set[Long], reset: () => Unit): Map[String, Double] = {
    val conformed = Loader.conformToTable(
      SourceRegistry(cfg.source).load(spark, cfg.path, cfg.sourceOptions), catalog, cfg)
    val key = conformed.schema.fieldIndex("o_orderkey")
    val rows = conformed.collect().map(_.toSeq).filter(r => !poison.contains(r(key).asInstanceOf[Long]))
    val sql = UpsertSqlGen.build(conformed.columns.toIndexedSeq, cfg.targetTable,
      catalog.uniqueKey(cfg.schema, cfg.table).getOrElse(Nil))
    val slices = rows.grouped(math.ceil(rows.length.toDouble / cfg.parallelism).toInt).toSeq
    reset()
    val t0 = System.nanoTime()
    val threads = slices.map { slice =>
      val t = new Thread(() => {
        val c = PsqlConnectionFactory(pg).connect()
        try slice.grouped(cfg.batchSize).foreach { b => c.executeBatch(sql, b.toSeq); c.commit() }
        finally c.close()
      })
      t.start(); t
    }
    threads.foreach(_.join())
    val wall = secs(System.nanoTime() - t0)
    Map("pg.floor_rows_per_s" -> rows.length / wall)
  }

  /** Counter self-check: one load at parallelism 1 of the warm-up slice of
    * the poisoned feed. The decorator's exec calls, rows sent and rollbacks
    * must equal what the binary split implies for the poison positions it
    * saw in each batch.
    */
  private def splitSelfCheck(keys: Set[Long], reset: () => Unit,
      loadAtOne: () => LoadStats): Map[String, Any] = {
    SplitCheck.poisonKeys = keys
    SplitCheck.batches.clear()
    reset()
    Trace.resetCounts()
    val stats = Trace.operation("split_check")(loadAtOne())
    SplitCheck.poisonKeys = Set.empty
    val batches = SplitCheck.batches.asScala.toIndexedSeq
    val exp = batches.map { case (size, pos) => SplitCheck.expected(size, pos) }
    val expected = (exp.map(_._1).sum, exp.map(_._2).sum, exp.map(_._3).sum)
    val got = (Trace.count("sink.exec_calls"), Trace.count("sink.exec_rows"), Trace.count("sink.rollbacks"))
    Map(
      "pass" -> (expected == got && stats.rejected == keys.size && batches.map(_._2.size).sum == keys.size),
      "expected" -> Map("exec_calls" -> expected._1, "exec_rows" -> expected._2, "rollbacks" -> expected._3),
      "counted" -> Map("exec_calls" -> got._1, "exec_rows" -> got._2, "rollbacks" -> got._3),
      "rejected" -> stats.rejected,
      "batches" -> batches.size)
  }

  // -------------------------------------------------------------- queries

  private def runQueries(spark: SparkSession, args: Args, engine: EngineListener): Map[String, Any] = {
    val names = Bench.baselineSubset.toSeq.sorted
    val outDir = Paths.get(args.out).resolveSibling("gates")
    // Set-up: one untimed pass that writes every gate's output for the
    // oracle check; it also warms the JIT, codegen and parquet footers.
    // One file per partition, read back in partition order, is the row
    // order a coalesce(1) would write, without narrowing the final stage.
    // Two gates at a time: the pass is set-up, not measurement.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    names.map { n =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val t0 = System.nanoTime()
          // A gate that throws leaves no output; the oracle check fails it.
          try SparkEntry.queries(n)(spark, args.data).write.mode("overwrite")
            .parquet(outDir.resolve(n).toString)
          catch { case e: Throwable => System.err.println(s"[perfbench] $n failed: ${e.getMessage}") }
          System.err.println(f"[perfbench] output $n ${secs(System.nanoTime() - t0)}%.2f s")
        }
      })
    }.foreach(_.get())
    pool.shutdown()
    Files.writeString(outDir.resolve("oracle_sql.json"),
      Json.render(names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap))
    val setupS = jvmUptimeS
    Trace.resetCounts()

    val sc = spark.sparkContext
    val times = names.map(_ -> Vector.newBuilder[Double]).toMap
    var errors = Vector.empty[String]
    var failedGates = Set.empty[String]
    var attempted = 0
    var passes = Vector.empty[Op]
    var heapMb = 0.0
    var foreign = 0L
    val aliveStart = sc.getPersistentRDDs.size
    var measuredS = 0.0
    while (measuredS < args.seconds) {
      val pass = timedOp {
        names.foreach { n =>
          if (args.trace) { PerfbenchBus.drain(sc); engine.takeUnpersisted() }
          val before = if (args.trace) sc.getPersistentRDDs.keySet else Set.empty[Int]
          attempted += 1
          val t0 = System.nanoTime()
          try {
            Trace.operation(s"gate.$n")(
              SparkEntry.queries(n)(spark, args.data).write.format("noop").mode("overwrite").save())
            times(n) += secs(System.nanoTime() - t0)
          } catch { case e: Throwable =>
            errors :+= s"$n failed: ${e.getMessage}"
            failedGates += n
          }
          if (args.trace) {
            PerfbenchBus.drain(sc)
            foreign += engine.takeUnpersisted().count(before.contains)
          }
        }
      }
      passes :+= pass
      measuredS += pass.wallS
      heapMb = math.max(heapMb, liveHeapMb())
    }
    val perGate = times.map { case (n, b) => n -> median(b.result()) }
    val queriesS = perGate.values.sum
    val base0 = Map[String, Any](
      "setup_jvm_s" -> setupS,
      "gates_dir" -> outDir.toString,
      "gate_runs" -> attempted,
      "failed_gates" -> failedGates.toSeq.sorted,
      "errors" -> errors,
      "passes" -> passes.size,
      "op_s" -> queriesS,
      "queries_s" -> queriesS,
      "cpu_s" -> median(passes.map(_.cpuS)),
      "live_heap_peak_mb" -> heapMb)
    if (!args.trace) return base0

    val n = passes.size.max(1).toDouble
    val spansPath = Paths.get(args.out).resolveSibling("spans.jsonl")
    Trace.writeSpans(spansPath)
    val alive = sc.getPersistentRDDs
    val bytesAlive = sc.getRDDStorageInfo.filter(i => alive.contains(i.id))
      .map(i => i.memSize + i.diskSize).sum
    base0 ++ Map(
      "layers" -> (perGate.map { case (g, s) => s"gate.${g}_s" -> s } ++
        engineMetrics(spark, n) ++ Map(
          "ckpt.rdds_alive_start" -> aliveStart.toDouble,
          "ckpt.rdds_alive_end" -> alive.size.toDouble,
          "ckpt.bytes_alive_end" -> bytesAlive.toDouble,
          "ckpt.foreign_unpersists" -> foreign / n)),
      "spans_file" -> spansPath.toString)
  }
}

/** Just enough JSON for the result file: maps, sequences, strings, numbers. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case m: Map[_, _] => m.toSeq.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
