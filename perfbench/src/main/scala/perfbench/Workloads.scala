package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.app.AppSession
import graft.core.{Assembly, Chunker}
import graft.streaming.{AssemblyStream, CompletedFileWriter, DiskModeAssembly, Pipelines}

/** What one timed phase measured. `opsMs` holds one latency per operation
  * (a file for the pipeline workloads, a query execution for the
  * registry). `mb` is
  * source MB verified (the registry: parquet MB its queries read) over
  * `busyMs`, the wall time of the timed work. Integrity `violations` (a
  * digest mismatch, a wrong manifest or quarantine set) fail the run;
  * `failed` counts operations that did not succeed. `deferred` runs once
  * the listeners are closed: checks that need Spark jobs of their own, so
  * those jobs stay out of the traced counts. */
final case class Phase(
    opsMs: Seq[Double],
    mb: Double,
    busyMs: Double,
    attempted: Long,
    failed: Long,
    violations: Seq[String],
    heapLiveMb: Double,
    detail: Map[String, Any],
    deferred: SparkSession => (Seq[String], Map[String, Any]) = _ => (Nil, Map.empty))

object Heap {
  /** Heap in use after a full collection, in MB (10^6 bytes). */
  def liveMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }
}

abstract class Workload(val seed: Long, val seconds: Double, val work: Path) {
  val ChunkSize: Int = Chunker.DefaultChunkSize
  /** Untimed phases, each exactly like the timed one, run before it. */
  val WarmUpPhases: Int = 1
  def rng(salt: Long): java.util.Random = new java.util.Random(seed * 1000003L + salt)

  /** Untimed inputs for phase `phase` (corpus, topic, fixtures). */
  def prepare(spark: SparkSession, phase: Int): Unit
  /** One untimed correctness pass, run once per invocation. */
  def check(spark: SparkSession): Seq[String] = Nil
  def timed(spark: SparkSession, phase: Int, layers: Option[Layers], parent: Long): Phase
  /** Source files of the workload, for the single-threaded core pass. */
  def coreFiles: Seq[Path]
  def config: Map[String, Any]

  protected def mb(bytes: Long): Double = bytes / 1e6

  /** Passes a closed-loop phase runs: a fixed count derived from the run
    * length and the workload's nominal pass time, never from measured
    * times, so every run of one length times the same amount of work. */
  protected def passes(nominalPassS: Double): Int =
    math.max(2, math.round(seconds / nominalPassS).toInt)

  /** `n` sizes evenly spread over [lo, hi], in a seeded order: the seed
    * moves sizes between files but every seed moves the same bytes. */
  protected def sizes(n: Int, lo: Int, hi: Int, rnd: java.util.Random): Seq[Int] =
    scala.util.Random.javaRandomToRandom(rnd).shuffle(
      (0 until n).map(i => lo + ((hi - lo).toLong * i / math.max(1, n - 1)).toInt))

  /** Wait until each standing query has run its first (empty) trigger. */
  protected def awaitStarted(qs: Seq[StreamingQuery]): Unit = {
    def started(q: StreamingQuery) =
      q.lastProgress != null || q.status.message.startsWith("Waiting for data")
    val deadline = System.currentTimeMillis() + 30000
    while (!qs.forall(started) && System.currentTimeMillis() < deadline) {
      qs.foreach(q => q.exception.foreach(e => throw e))
      Thread.sleep(5)
    }
  }

  /** Stop standing queries once they are idle, so no batch is cut short
    * (its tasks would still be writing while the directories go away). */
  protected def stopAll(qs: Seq[StreamingQuery]): Unit = {
    def busy(q: StreamingQuery) = q.isActive && (q.status.isTriggerActive || q.status.isDataAvailable)
    val deadline = System.currentTimeMillis() + 30000
    while (qs.exists(busy) && System.currentTimeMillis() < deadline) Thread.sleep(5)
    qs.foreach { q =>
      q.stop()
      q.exception.foreach(e => throw e)
    }
  }

  /** Read back an output file and compare it with its source. */
  protected def digestOk(out: Path, src: SourceFile): Boolean =
    Files.isRegularFile(out) && Corpus.sha256(out) == src.sha256
}

/** Open loop: files land in a watched directory on a fixed schedule while
  * the upload and download queries run as standing queries. */
final class LiveSmallFiles(seed: Long, seconds: Double, work: Path)
    extends Workload(seed, seconds, work) {
  /** Arrivals per second: about half the drain capacity of a 4-core host. */
  val Rate = 20.0
  /** Latency keeps falling for about 40 s of streaming after start; two
    * phases are as much of that as a run's length allows. */
  override val WarmUpPhases = 2
  val MinSize: Int = 32 * 1024
  val MaxSize: Int = 1024 * 1024
  val DrainMs: Double = 30000
  def nFiles: Int = math.ceil(Rate * seconds).toInt
  private val corpora = mutable.Map[Int, Seq[SourceFile]]()
  private def dir(phase: Int): Path = work.resolve(s"live-$phase")

  private def makeCorpus(staging: Path, n: Int, salt: Long): Seq[SourceFile] = {
    val rnd = rng(salt)
    sizes(n, MinSize, MaxSize, rnd).zipWithIndex.map { case (size, i) =>
      Corpus.write(staging, f"f$i%05d.bin", Corpus.randomBytes(rnd, size),
        Corpus.BaseMtimeMs + i * 1000L)
    }
  }

  def prepare(spark: SparkSession, phase: Int): Unit = {
    Corpus.rmTree(dir(phase))
    corpora(phase) = makeCorpus(dir(phase).resolve("staging"), nFiles, 1)
  }

  private final class Pipeline(spark: SparkSession, base: Path) {
    val watch: Path = Files.createDirectories(base.resolve("watch"))
    val topic: Path = Files.createDirectories(base.resolve("topic"))
    val out: Path = Files.createDirectories(base.resolve("out"))
    val upload: StreamingQuery = Pipelines.uploadDirectoryStream(spark, watch.toString, ChunkSize)
      .writeStream.format("parquet")
      .option("path", topic.toString)
      .option("checkpointLocation", s"$topic/_checkpoint_upload")
      .queryName("upload")
      .start()
    val (good, quarantine) = AppSession.consumeWithQuarantine(spark, topic.toString, out.toString)
    val download: StreamingQuery = AssemblyStream.assemble(good, timeoutMs = 0)
      .writeStream
      .queryName("download")
      .foreach(new CompletedFileWriter(out.toString))
      .outputMode("append")
      .option("checkpointLocation", s"$out/_checkpoint_download")
      .start()
    def all: Seq[StreamingQuery] = Seq(upload, download, quarantine)
  }

  /** Land the phase's corpus (staged under `base/staging`) at `Rate` into a
    * watched dir under `base` while the standing queries run; then remove
    * `base`. */
  def timed(spark: SparkSession, phase: Int, layers: Option[Layers], parent: Long): Phase = {
    val base = dir(phase)
    val files = corpora(phase).toArray
    val n = files.length
    val staging = base.resolve("staging")
    val p = new Pipeline(spark, base)
    awaitStarted(Seq(p.upload, p.download))

    val t0 = Clock.nowMs + 100
    val due = Array.tabulate(n)(i => t0 + i * 1000.0 / Rate)
    val landed = Array.fill(n)(Double.NaN)
    val verified = Array.fill(n)(Double.NaN)
    val nLanded = new AtomicInteger(0)
    val generator = new Thread(() => {
      var i = 0
      while (i < n) {
        Clock.sleepUntil(due(i))
        Corpus.move(staging.resolve(files(i).name), p.watch.resolve(files(i).name))
        landed(i) = Clock.nowMs
        i += 1
        nLanded.set(i) // publishes landed(0 until i) to the poller
      }
    }, "perfbench-generator")
    generator.setDaemon(true)
    generator.start()

    // poll the output dir: a file counts as landed-and-verified the moment
    // it reaches its full size (CompletedFileWriter writes only files whose
    // whole-file sha512 verified); digests are compared after the run
    val outFiles = files.map(f => new File(p.out.toFile, f.name))
    var nVerified = 0
    var backlogEnd = -1
    val deadline = due(n - 1) + DrainMs
    while (nVerified < n && Clock.nowMs < deadline) {
      val upTo = nLanded.get
      var i = 0
      while (i < upTo) {
        if (verified(i).isNaN && outFiles(i).length == files(i).size) {
          verified(i) = Clock.nowMs
          nVerified += 1
        }
        i += 1
      }
      if (backlogEnd < 0 && upTo == n) backlogEnd = n - nVerified
      if (p.upload.exception.isDefined || p.download.exception.isDefined) nVerified = n
      Thread.sleep(1)
    }
    generator.join(DrainMs.toLong)
    val heap = Heap.liveMb()
    stopAll(p.all)

    val ok = (0 until n).filter(i => !verified(i).isNaN)
    val violations = ok.filterNot(i => digestOk(outFiles(i).toPath, files(i)))
      .map(i => s"digest mismatch: ${files(i).name}")
    layers.foreach { l =>
      ok.foreach { i =>
        val f = files(i).name
        val s = l.spans.add(f, "file", due(i), verified(i), parent)
        l.spans.add(f, "file.generator_wait", due(i), landed(i), s)
        l.spans.add(f, "file.pipeline", landed(i), verified(i), s)
      }
    }
    val bytes = ok.map(i => files(i).size).sum
    val busy = if (ok.isEmpty) 1.0 else ok.map(verified).max - due(0)
    Corpus.rmTree(base)
    // run.py computes latency from these three (due-time rule)
    Phase(Nil, mb(bytes), busy, n.toLong, (n - ok.size).toLong, violations, heap,
      Map("due_ms" -> due.toSeq, "landed_ms" -> landed.toSeq, "verified_ms" -> verified.toSeq,
        "backlog_files_end" -> math.max(backlogEnd, 0),
        "files_verified" -> ok.size, "bytes_written" -> bytes,
        "chunks" -> ok.map(i => math.max(1L, (files(i).size + ChunkSize - 1) / ChunkSize)).sum))
  }

  def coreFiles: Seq[Path] = {
    val d = work.resolve("live-core")
    Corpus.rmTree(d)
    makeCorpus(d, nFiles, 1).map(f => d.resolve(f.name))
  }

  def config: Map[String, Any] = Map("loop" -> "open", "rate_files_per_s" -> Rate,
    "files" -> nFiles, "file_bytes" -> s"$MinSize-$MaxSize", "assembler" -> "buffered")
}

/** Closed loop: a few large files, uploaded in one availableNow pass and
  * downloaded in disk mode; one pass is one operation. */
final class BulkLargeFiles(seed: Long, seconds: Double, work: Path)
    extends Workload(seed, seconds, work) {
  val NFiles = 4
  val FileSize: Int = 32 * 1024 * 1024
  val NominalPassS = 4.0
  private val corpusDir = work.resolve("bulk-corpus")
  private var corpus: Seq[SourceFile] = Nil

  def prepare(spark: SparkSession, phase: Int): Unit = if (phase == 0) {
    Corpus.rmTree(corpusDir)
    val rnd = rng(3)
    // half PRNG bytes, half low-entropy numeric arrays
    corpus = (0 until NFiles).map { i =>
      val bytes = if (i % 2 == 0) Corpus.randomBytes(rnd, FileSize) else Corpus.numericBytes(rnd, FileSize)
      Corpus.write(corpusDir, f"f$i%05d.bin", bytes, Corpus.BaseMtimeMs + i * 1000L)
    }
  }

  /** One upload + download pass; returns (upload ms, download ms). */
  private def pass(spark: SparkSession, src: Path, base: Path): (Double, Double) = {
    val topic = base.resolve("topic").toString
    val out = base.resolve("out").toString
    val t0 = Clock.nowMs
    Pipelines.uploadDirectoryStream(spark, src.toString, ChunkSize)
      .writeStream.format("parquet")
      .option("path", topic)
      .option("checkpointLocation", s"$topic/_checkpoint_upload")
      .queryName("upload")
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    val t1 = Clock.nowMs
    val (good, quarantine) = AppSession.consumeWithQuarantine(spark, topic, out)
    DiskModeAssembly.assemble(good, out, timeoutMs = 0)
      .writeStream.format("parquet")
      .option("path", s"$out/_manifests")
      .option("checkpointLocation", s"$out/_checkpoint_download_disk")
      .queryName("download")
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    quarantine.awaitTermination()
    val t2 = Clock.nowMs
    Corpus.rmTree(base.resolve("topic"))
    (t1 - t0, t2 - t1)
  }

  def timed(spark: SparkSession, phase: Int, layers: Option[Layers], parent: Long): Phase = {
    val ups, downs = mutable.ArrayBuffer[Double]()
    val outs = mutable.ArrayBuffer[Path]()
    val violations = mutable.ArrayBuffer[String]()
    var failed = 0L
    (0 until passes(NominalPassS)).foreach { k =>
      val base = work.resolve(s"bulk-$phase-$k")
      val s = Clock.nowMs
      val (u, d) = pass(spark, corpusDir, base)
      layers.foreach { l =>
        val id = l.spans.add(s"pass-${ups.size}", "pass", s, s + u + d, parent)
        l.spans.add(s"pass-${ups.size}", "pass.upload", s, s + u, id)
        l.spans.add(s"pass-${ups.size}", "pass.download", s + u, s + u + d, id)
      }
      ups += u; downs += d
      val out = base.resolve("out")
      corpus.foreach { f =>
        if (!Files.exists(out.resolve(f.name))) failed += 1
        else if (!digestOk(out.resolve(f.name), f)) violations += s"digest mismatch: ${f.name}"
      }
      outs += out
      // keep only the manifests for the check below; drop the payload bytes
      corpus.foreach(f => Files.deleteIfExists(out.resolve(f.name)))
    }
    val heap = Heap.liveMb()
    // disk mode leaves exactly one Complete manifest per file, and an
    // input with no corrupt message leaves the quarantine empty
    val checkManifests = (spark: SparkSession) => {
      val bad = mutable.ArrayBuffer[String]()
      var manifests = 0L
      var quarantined = 0L
      outs.foreach { out =>
        val q = spark.read.schema("key STRING, value BINARY, error STRING")
          .parquet(s"$out/_quarantine").count()
        quarantined += q
        if (q != 0) bad += s"$out: $q quarantined messages, want none"
        val rows = spark.read.parquet(s"$out/_manifests")
          .select("rel_filepath", "code").collect().map(r => (r.getString(0), r.getInt(1)))
        manifests += rows.length
        corpus.foreach { f =>
          val n = rows.count { case (rel, code) => rel == f.name && code == Assembly.Code.Complete }
          if (n != 1) bad += s"${f.name}: $n Complete manifests in $out"
        }
        if (rows.length != corpus.size) bad += s"$out: ${rows.length} manifests for ${corpus.size} files"
        Corpus.rmTree(out.getParent)
      }
      (bad.toSeq, Map[String, Any]("manifests" -> manifests, "quarantine_rows" -> quarantined))
    }
    val total = corpus.map(_.size).sum
    val opsMs = ups.indices.map(i => ups(i) + downs(i))
    Phase(opsMs.toSeq, mb(total) * ups.size, ups.sum + downs.sum,
      (corpus.size * ups.size).toLong, failed, violations.toSeq, heap,
      Map("upload_mb_s" -> ups.map(u => mb(total) / (u / 1000)),
        "download_mb_s" -> downs.map(d => mb(total) / (d / 1000)),
        "passes" -> ups.size, "files_verified" -> (corpus.size * ups.size - failed),
        "bytes_written" -> total * ups.size,
        "chunks" -> corpus.map(f => (f.size + ChunkSize - 1) / ChunkSize).sum * ups.size),
      checkManifests)
  }

  def coreFiles: Seq[Path] = corpus.map(f => corpusDir.resolve(f.name))

  def config: Map[String, Any] = Map("loop" -> "closed", "clients" -> 1,
    "passes" -> passes(NominalPassS), "files_per_pass" -> NFiles, "file_bytes" -> FileSize,
    "assembler" -> "disk")
}

/** Closed loop, one client: a fixed subset of the declared queries, each run
  * fully through the noop sink, in an order shuffled by the seed. */
final class QueryRegistry(seed: Long, seconds: Double, work: Path, data: Path)
    extends Workload(seed, seconds, work) {
  /** One to three queries from each of the six families: mostly the
    * sub-second, planning-bound majority plus the two heaviest at this scale
    * (q13_star_join and x29_ann_lsh, about 1 s each on 4 cores), so the
    * 90th percentile falls among the heavy executions. */
  val Subset: Seq[String] = Seq(
    "q21_topk", "x18_cube", "q13_star_join",
    "q04_hash_integrity",
    "q26_cosine_topk", "x29_ann_lsh",
    "x132_g711_sample_stats",
    "x60_gear_cdc",
    "x84_heavy_hitters")
  val NominalPassS = 2.0
  private lazy val fns = {
    val all = graft.SparkEntry.queries
    Subset.map(n => n -> all.getOrElse(n, sys.error(s"unknown query $n"))).toMap
  }
  private var inputMb: Map[String, Double] = Map.empty
  val resultsDir: Path = work.resolve("registry-results")

  /** Drop the RDDs a query checkpointed, as the repo's bench harness does
    * between queries, so storage does not pile up over a run. */
  private def sweep(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  /** Run one query fully through the noop sink; returns the analysis time
    * of building its DataFrame (the write's own phases come from the
    * listener in traced runs). */
  private def noop(spark: SparkSession, name: String): Double = {
    val df = fns(name)(spark, data.toString)
    df.write.mode("overwrite").format("noop").save()
    df.queryExecution.tracker.phases.get("analysis").fold(0.0)(p => (p.endTimeMs - p.startTimeMs).toDouble)
  }

  def prepare(spark: SparkSession, phase: Int): Unit = if (phase == 0)
    for ((name, setup) <- graft.queries.Dataflow.fixtureSetups if fns.contains(name))
      setup(spark, data.toString)

  /** Dump each query's result for the oracle comparison run.py makes. */
  override def check(spark: SparkSession): Seq[String] = {
    Corpus.rmTree(resultsDir)
    val errors = Subset.flatMap { n =>
      try { fns(n)(spark, data.toString).coalesce(1).write.parquet(resultsDir.resolve(n).toString); None }
      catch { case e: Exception => Some(s"$n: ${e.getMessage}") }
      finally sweep(spark)
    }
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => fns.contains(k) }
    Main.Json.writeValue(resultsDir.resolve("oracle_sql.json").toFile, oracle)
    errors
  }

  def timed(spark: SparkSession, phase: Int, layers: Option[Layers], parent: Long): Phase = {
    // the parquet MB each query reads, recorded once, before any timing
    if (inputMb.isEmpty) inputMb = Subset.map { n =>
      n -> fns(n)(spark, data.toString).inputFiles.map(f => new File(new java.net.URI(f)).length).sum / 1e6
    }.toMap
    val rnd = scala.util.Random.javaRandomToRandom(rng(5 + phase))
    val lat = mutable.ArrayBuffer[(String, Double)]()
    val errors = mutable.ArrayBuffer[String]()
    val runs = mutable.ArrayBuffer[QueryRun]()
    var busy, analysisMs = 0.0
    // complete passes only, so every run times the same query mix
    val nPasses = passes(NominalPassS)
    (0 until nPasses).foreach { _ =>
      rnd.shuffle(Subset).foreach { n =>
        val t0 = Clock.nowMs
        val ok = try { analysisMs += noop(spark, n); true }
          catch { case e: Exception => errors += s"$n: ${e.getMessage}"; false }
        val t1 = Clock.nowMs
        layers.foreach(l => runs += QueryRun(n, t0, t1, l.spans.add(n, "query", t0, t1, parent)))
        busy += t1 - t0
        if (ok) lat += n -> (t1 - t0)
        sweep(spark)
      }
    }
    val heap = Heap.liveMb()
    // one operation per query execution
    Phase(lat.map(_._2).toSeq, lat.map(x => inputMb(x._1)).sum, busy,
      (Subset.size * nPasses).toLong, errors.size.toLong, Nil, heap,
      Map("passes" -> nPasses, "errors" -> errors.toSeq, "runs" -> runs.toSeq, "analysis_ms" -> analysisMs,
        "query_ms" -> lat.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }))
  }

  def coreFiles: Seq[Path] = Nil

  def config: Map[String, Any] = Map("loop" -> "closed", "clients" -> 1,
    "passes" -> passes(NominalPassS), "queries" -> Subset, "data" -> data.getFileName.toString)
}
