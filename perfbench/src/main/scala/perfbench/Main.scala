package perfbench

import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.app.AppSession
import graft.core.{Assembly, ChunkCodec, Chunker}

/** The benchmark's JVM side. Runs one workload and writes its raw
  * measurements as JSON to `--out`; `perfbench/run.py` builds this program,
  * runs it, and turns the raw file into the metrics line.
  *
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --out FILE --data DIR`
  *
  * A run sets up three times (a fresh session and the workload's fixtures),
  * runs the workload's untimed warm-up phases, each exactly like the timed
  * one, and the untimed correctness pass, then one timed phase with no
  * listeners. With `--trace 1` a phase with the listeners and spans on
  * follows, then a second phase with no listeners, so the traced phase can
  * be compared with untraced ones on either side of it in the same warm JVM,
  * and then a single-threaded pass of the core layer over the workload's
  * corpus. */
object Main {
  val SetupRounds = 3

  /** Writes the raw result file. A file that never verified has NaN times;
    * they are written as the bare NaN token, which Python's json reads. */
  val Json: JsonMapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS)
    .build()

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = Files.createDirectories(Paths.get(opts("work")))
    val data = Paths.get(opts("data"))
    val workload: Workload = name match {
      case "live_small_files" => new LiveSmallFiles(seed, seconds, work)
      case "bulk_large_files" => new BulkLargeFiles(seed, seconds, work)
      case "query_registry" => new QueryRegistry(seed, seconds, work, data)
      case other => sys.error(s"unknown workload $other")
    }
    val spans = new Spans(trace)

    val start = Clock.nowMs
    def progress(msg: String): Unit =
      System.err.println(f"[perfbench] ${(Clock.nowMs - start) / 1000}%7.2f s  $msg")

    var spark: SparkSession = null
    val setupS = (0 until SetupRounds).map { r =>
      spans.around("run", "setup") { _ =>
        val t0 = Clock.nowMs
        if (spark != null) spark.stop()
        spark = AppSession.make(s"perfbench-$name")
        // the checkpoint sweep WARNs once per dropped RDD; keep stderr readable
        org.apache.logging.log4j.core.config.Configurator.setLevel(
          "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
        workload.prepare(spark, 0)
        progress(s"set-up round ${r + 1} done")
        (Clock.nowMs - t0) / 1000
      }
    }
    // The warm-up phases come first, in the session that is timed; the last
    // set-up round prepared phase 0. Every later phase prepares its own.
    def runPhase(phase: Int, kind: String, layers: Option[Layers]): Map[String, Any] =
      spans.around("run", kind) { id =>
        if (phase > 0) workload.prepare(spark, phase)
        layers.foreach { l => l.streaming.parentSpan = id; l.open() }
        val t0 = Clock.nowMs
        val p = workload.timed(spark, phase, layers, id)
        val wall = Clock.nowMs - t0
        layers.foreach(_.close())
        val (bad, extra) = p.deferred(spark)
        progress(s"phase $phase ($kind) done")
        Map("kind" -> kind, "ops_ms" -> p.opsMs, "mb" -> p.mb, "busy_ms" -> p.busyMs,
          "wall_ms" -> wall, "attempted" -> p.attempted, "failed" -> p.failed,
          "violations" -> (p.violations ++ bad), "heap_live_mb" -> p.heapLiveMb,
          "detail" -> (p.detail ++ extra))
      }

    val warm = (0 until workload.WarmUpPhases).map(runPhase(_, "warmup", None))
    val checkErrors = spans.around("run", "check")(_ => workload.check(spark)) ++
      warm.flatMap { w =>
        w("violations").asInstanceOf[Seq[String]].map(v => s"warm-up: $v") ++
          Seq(w("failed").asInstanceOf[Long]).filter(_ > 0).map(n => s"warm-up: $n operations failed")
      }
    progress("correctness pass done")

    val first = workload.WarmUpPhases
    val untraced = runPhase(first, "timed", None)
    val traced = if (!trace) Nil else {
      val layers = new Layers(spark, spans)
      val ph = runPhase(first + 1, "timed.traced", Some(layers))
      val again = runPhase(first + 2, "timed", None)
      val detail = ph("detail").asInstanceOf[Map[String, Any]]
      val wall = ph("wall_ms").asInstanceOf[Double]
      val core = corePass(workload)
      val coreMsPerMb = Seq("chunk", "pack", "unpack", "assemble")
        .map(k => core(s"core.${k}_ms_per_mb")).sum
      val pipelineMb = if (core("core.single_thread_mb_s") == 0) 0.0 else ph("mb").asInstanceOf[Double]
      val chunks = detail.getOrElse("chunks", 0L).asInstanceOf[Long].toDouble
      val rowsRead = layers.streaming.assemblerRowsRead
      def num(k: String): Double = detail.get(k).map(_.toString.toDouble).getOrElse(0.0)
      val queryRuns = detail.getOrElse("runs", Nil).asInstanceOf[Seq[QueryRun]]
      val execs = layers.queries.attribute(queryRuns, spans)
      val runs = math.max(1, queryRuns.size).toDouble
      def phaseMs(k: String): Double = execs.map(_._2.phases.get(k).fold(0L)(p => p._2 - p._1)).sum.toDouble
      val perLayer: Map[String, Double] =
        core ++
        Map("core.share_of_wall" -> coreMsPerMb * pipelineMb / wall) ++
        layers.streaming.metrics(wall) ++
        Map(
          "streaming.state.useful_chunk_ratio" -> (if (rowsRead > 0) chunks / rowsRead else 0.0),
          "streaming.sink.files_verified" -> num("files_verified"),
          "streaming.sink.bytes_written" -> num("bytes_written"),
          "streaming.sink.quarantine_rows" -> num("quarantine_rows"),
          "streaming.sink.manifests" -> num("manifests"),
          "queries.analysis_ms" -> num("analysis_ms"),
          "queries.optimization_ms" -> phaseMs("optimization"),
          "queries.planning_ms" -> phaseMs("planning"),
          "queries.execution_ms" -> execs.map(_._2.durationMs).sum,
          "queries.executions" -> execs.size / runs,
          // in the registry's traced phase every job belongs to a query run
          "queries.jobs_per_query" ->
            (if (queryRuns.isEmpty) 0.0 else layers.executor.metrics("spark.jobs") / runs),
          "bench.backlog_files_end" -> num("backlog_files_end")) ++
        layers.executor.metrics
      val perQuery = execs.groupBy(_._1.query).map { case (q, es) =>
        q -> Map("runs" -> queryRuns.count(_.query == q), "executions" -> es.size,
          "execution_ms" -> es.map(_._2.durationMs).sum,
          "phases_ms" -> es.flatMap(_._2.phases.map { case (k, (s, t)) => k -> (t - s) })
            .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }) }
      Seq(ph ++ Map("detail" -> (detail - "runs"), "layers" -> perLayer, "per_query" -> perQuery),
        again)
    }

    val conf = spark.conf
    val config = Map(
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
      "state_store_provider" -> conf.get("spark.sql.streaming.stateStore.providerClass"),
      "chunk_size" -> Chunker.DefaultChunkSize,
      "seed" -> seed,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1e6,
      "spark_version" -> spark.version,
      "setup_rounds" -> SetupRounds, "warm_up_phases" -> workload.WarmUpPhases) ++ workload.config
    spark.stop()
    progress("session stopped")

    val raw = Map(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "config" -> config, "setup_s" -> setupS, "check_errors" -> checkErrors,
      "phases" -> (untraced +: traced),
      "spans" -> spans.all)
    Json.writeValue(Paths.get(opts("out")).toFile, raw)
  }

  /** Single-threaded, Spark-free pass of the core layer over the workload's
    * own source files: chunk (with sha512), pack, unpack, then assemble
    * (`step` over every chunk, then `finish`). */
  def corePass(w: Workload): Map[String, Double] = {
    val files = w.coreFiles
    var chunkNs, packNs, unpackNs, asmNs, bytes = 0L
    files.foreach { p =>
      val content = Files.readAllBytes(p)
      val name = p.getFileName.toString
      bytes += content.length
      var t = System.nanoTime()
      val chunks = Chunker.chunk(name, "", content, w.ChunkSize, Nil, Some(1.0))
      chunkNs += System.nanoTime() - t; t = System.nanoTime()
      val packed = chunks.map(ChunkCodec.pack)
      packNs += System.nanoTime() - t; t = System.nanoTime()
      val unpacked = packed.map(ChunkCodec.unpack)
      unpackNs += System.nanoTime() - t; t = System.nanoTime()
      var state: Option[Assembly.State] = None
      unpacked.foreach { c =>
        state = Some(Assembly.step(state, c)._1)
      }
      val (code, _) = Assembly.finish(name, name, state.get)
      asmNs += System.nanoTime() - t
      require(code == Assembly.Code.Complete, s"core pass: $name did not verify")
    }
    val mb = bytes / 1e6
    def perMb(ns: Long): Double = if (mb == 0) 0.0 else ns / 1e6 / mb
    val totalS = (chunkNs + packNs + unpackNs + asmNs) / 1e9
    Map("core.chunk_ms_per_mb" -> perMb(chunkNs), "core.pack_ms_per_mb" -> perMb(packNs),
      "core.unpack_ms_per_mb" -> perMb(unpackNs), "core.assemble_ms_per_mb" -> perMb(asmNs),
      "core.single_thread_mb_s" -> (if (totalS == 0) 0.0 else mb / totalS))
  }
}
