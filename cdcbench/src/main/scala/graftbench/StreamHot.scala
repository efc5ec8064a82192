package graftbench

import java.nio.file.{Files, Path}
import java.time.{Duration, Instant}
import java.time.temporal.ChronoUnit

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.codec.DynamoDbJson
import graft.ingest.Ingest
import graft.merge.Merge
import graft.model.{CdcEvent, Transaction}
import graft.streaming.CdcStream

/** `stream-hot`: the paper's continuous path as an open loop.
  *
  * About ten virtual days of history are bulk-loaded. A second
  * generator with its own accounts then emits DynamoDB-Streams records
  * on a fixed schedule; once per trigger interval the benchmark decodes,
  * filters and lands the records that fell due, while
  * `CdcStream.mergeStream` (2 s trigger, 100 files) merges them. All changes fall in one hot
  * day partition, so the history is dead weight that partition pruning
  * must keep out of each batch; the work is per-batch fixed cost in
  * `streaming` and `ingest`. Event time is a virtual clock (a fixed
  * epoch plus elapsed wall time), so partitions do not depend on when
  * the benchmark runs. The rate steps run back to back in one query, on
  * a copy of the loaded lake.
  */
object StreamHot {
  import Run.timed

  final case class Step(rate: Int, seconds: Int)
  final case class Size(historyEvents: Int, historyDays: Int, exportFiles: Int,
                        steps: Seq[Step], lookups: Int)

  /** The base rate runs for most of the measured time; a step at four
    * times the rate follows. Steps last whole landing periods.
    */
  def full(seconds: Int): Size = Size(historyEvents = 20000, historyDays = 10, exportFiles = 8,
    steps = Seq(Step(500, periods(seconds * 5 / 4)), Step(2000, periods(seconds / 4))),
    lookups = Phases.Lookups)

  private def periods(s: Int): Int = TriggerS * math.max(1, (s + TriggerS / 2) / TriggerS)

  /** The merge stream's trigger, which also is the landing period. A
    * 2 s trigger leaves a batch room to finish before the next one on a
    * busy host.
    */
  val TriggerS = 2

  /** Landing runs this long after each trigger: long enough that the
    * batch has listed its files before the landed file appears, and
    * early enough that a landing slowed down by a busy host still
    * commits before the next trigger. A landing that misses its trigger
    * waits a whole interval more, which makes freshness p90 bimodal.
    */
  val LandPhaseMs = 600L
  val warm = Size(historyEvents = 2000, historyDays = 10, exportFiles = 2,
    steps = Seq(Step(200, 2)), lookups = Phases.WarmLookups)

  /** A change's lake freshness may be at most this long (the reference's
    * batching window) for a rate step to count as sustained.
    */
  val FreshnessLimitS = 10.0

  private val start = Instant.parse("2023-07-27T00:00:00Z")

  final class Prepared(val root: Path, val manifest: Path, val exportRoot: Path,
                       val history: Seq[Transaction], val epoch: Instant)

  def setUp(r: Run, size: Size, name: String): Prepared = {
    val root = r.dir(name)
    val historyMicros = Duration.ofDays(size.historyDays).toNanos / 1000
    val faker = new FastFaker(r.seed, start, tickMicros = math.max(1L, historyMicros * 2 / 3 / size.historyEvents))
    faker.events(size.historyEvents)
    val history = faker.tableState
    val exportRoot = Inputs.writeExport(history, root.resolve("export"), root.resolve("manifest"), size.exportFiles)
    Inputs.writeTruth(r.spark, history, root.resolve("truth"))
    new Prepared(root, root.resolve("manifest"), exportRoot, history,
      faker.now.truncatedTo(ChronoUnit.DAYS).plus(Duration.ofDays(1)))
  }

  /** One streaming batch as Spark's progress report gives it. */
  final case class Batch(id: Long, startMs: Long, durMs: Map[String, Long], inputRows: Long) {
    def endMs: Long = startMs + durMs.getOrElse("triggerExecution", 0L)
  }

  /** Collects the progress of every batch that read rows. */
  final class Progress extends StreamingQueryListener {
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0)
        batches.add(Batch(p.batchId, Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows))
    }
  }

  final case class StepResult(step: Step, batches: Seq[Batch], freshnessS: Seq[Double],
                              landMs: Seq[Double], lagMs: Seq[Double], landedRows: Long,
                              backlogFilesEnd: Int, changes: Seq[CdcEvent],
                              batchDays: Seq[Int], batchKeys: Seq[(Int, Int)])

  /** Stream into a fresh copy of `baseLake`, one rate step after the
    * other in one query. Each step has a generator of its own (fresh
    * accounts) whose events are due at their event times. Returns one
    * result per step, with the batches that read only that step's files;
    * every batch; and the lake.
    */
  def stream(r: Run, in: Prepared, baseLake: Path, steps: Seq[Step],
             name: String): (Seq[StepResult], Seq[Batch], Path) = {
    val spark = r.spark
    val root = r.dir(name)
    val lake = root.resolve("lake")
    Inputs.copyTree(baseLake, lake)
    val landing = root.resolve("landing")
    Files.createDirectories(landing)
    val ckpt = root.resolve("checkpoint")
    val progress = new Progress
    spark.streams.addListener(progress)
    val epochNs = Duration.between(Instant.EPOCH, in.epoch).toNanos
    val tsFormat = java.time.format.DateTimeFormatter.ofPattern(graft.model.Schemas.TsPattern)
    def offsetNs(e: CdcEvent): Long =
      Duration.between(Instant.EPOCH, java.time.OffsetDateTime.parse(e.update_at, tsFormat).toInstant).toNanos - epochNs

    // the stream thread inherits local properties; it must not carry a span
    spark.sparkContext.setLocalProperty(EngineCounters.SpanKey, null)
    val q = CdcStream.mergeStream(spark, landing.toString, lake.toString, ckpt.toString,
      maxFilesPerTrigger = 100, triggerInterval = s"$TriggerS seconds")
    // Spark fires processing-time triggers on whole multiples of the
    // interval; landing at a fixed phase on that grid keeps the timing
    // between landing and merging the same in every run
    val nowMs = System.currentTimeMillis()
    val gridMs = TriggerS * 1000L
    val t0Ms = (nowMs / gridMs + 1) * gridMs + LandPhaseMs
    val t0Ns = System.nanoTime() + (t0Ms - nowMs) * 1000000L
    val fileChanges = mutable.HashMap.empty[String, Seq[CdcEvent]] // landed file -> its changes
    val fileStep = mutable.HashMap.empty[String, Int]
    val perStep = steps.zipWithIndex.map { case (st, i) =>
      val startS = steps.take(i).map(_.seconds).sum
      // fresh accounts, the run's seed, events spaced to arrive at
      // `rate` per second on average from the step's start
      val faker = new FastFaker(r.seed * 1000003L + i, in.epoch.plusSeconds(startS),
        tickMicros = math.max(1L, 1000000L * 2 / 3 / st.rate))
      val landMs, lagMs = mutable.ArrayBuffer.empty[Double]
      val changes = mutable.ArrayBuffer.empty[CdcEvent]
      var pending = faker.next()
      val periodNs = gridMs * 1000000L
      for (k <- startS / TriggerS + 1 to (startS + st.seconds) / TriggerS) {
        val dueNs = t0Ns + k * periodNs
        val wait = dueNs - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        lagMs += (System.nanoTime() - dueNs) / 1e6
        val batch = mutable.ArrayBuffer.empty[CdcEvent]
        while (offsetNs(pending) < k * periodNs) { batch += pending; pending = faker.next() }
        if (batch.nonEmpty) {
          import spark.implicits._
          landMs += timed {
            r.tracer.span("ingest.land", s"land-$name-$k") {
              val raw = batch.map(Inputs.streamJson).toSeq.toDF("value")
              val flat = Merge.filterRemoves(DynamoDbJson.decodeStreamEvents(raw)).drop("eventName")
              Ingest.landCdc(flat, landing.toString)
            }
          }._2 * 1000
          changes ++= batch
          val byMinute = batch.groupBy(e => Inputs.minuteOf(e.update_at))
          Inputs.listFiles(landing, ".json").filterNot(fileChanges.contains).foreach { f =>
            fileChanges(f) = byMinute.getOrElse(f.split('/').init.mkString("/"), Nil).toSeq
            fileStep(f) = i
          }
        }
      }
      (landMs.toSeq, lagMs.toSeq, changes.toSeq, fileChanges.size - committedFiles(ckpt, landing).size)
    }
    q.processAllAvailable()
    q.stop()
    spark.streams.removeListener(progress)

    val batches = progress.batches.asScala.toSeq.sortBy(_.id)
    val fileBatch = committedFiles(ckpt, landing)
    val landed = perStep.map(_._3.size).sum
    val fresh = attribute(fileChanges.toMap, fileBatch, batches.map(b => b.id -> b.endMs).toMap,
      (c: CdcEvent) => t0Ms + offsetNs(c) / 1e6).toMap
    r.check(fresh.size == landed, s"$name: ${fresh.size} of $landed landed changes attributed to a committed batch")
    batches.foreach(b => r.tracer.record("streaming.batch", s"batch-$name-${b.id}",
      t0Ns + (b.startMs - t0Ms) * 1000000L, t0Ns + (b.endMs - t0Ms) * 1000000L))
    val filesOf = fileBatch.toSeq.groupBy(_._2).map { case (id, fs) => id -> fs.map(_._1) }
    val results = steps.zip(perStep).zipWithIndex.map { case ((st, (landMs, lagMs, changes, backlog)), i) =>
      val own = batches.filter(b => filesOf.getOrElse(b.id, Nil).forall(fileStep(_) == i))
      val perBatch = own.map(b => filesOf.getOrElse(b.id, Nil).flatMap(fileChanges))
      StepResult(st, own, changes.flatMap(fresh.get), landMs, lagMs, changes.size, backlog, changes,
        perBatch.map(_.map(_.create_at.take(10)).distinct.size),
        perBatch.map(es => (es.size, es.map(e => (e.account, e.create_at)).distinct.size)))
    }
    (results, batches, lake)
  }

  /** Freshness attribution: each change landed in a file is charged to
    * the batch that committed that file, and its freshness is the time
    * from when it was due to that batch's end, in seconds. Changes in a
    * file no committed batch read, or in a batch with no end, are left
    * out, so the caller can tell that every change was attributed by
    * counting.
    */
  def attribute[C](fileChanges: Map[String, Seq[C]], fileBatch: Map[String, Long],
                   batchEndMs: Map[Long, Long], dueMs: C => Double): Seq[(C, Double)] =
    fileChanges.toSeq.flatMap { case (f, cs) =>
      fileBatch.get(f).flatMap(batchEndMs.get).toSeq.flatMap(end => cs.map(c => c -> (end - dueMs(c)) / 1000.0))
    }

  /** Landed file (relative to `landing`) -> id of the batch that read it,
    * from the file source's log in the checkpoint, for committed batches.
    */
  def committedFiles(ckpt: Path, landing: Path): Map[String, Long] = {
    val commits = Inputs.listFiles(ckpt.resolve("commits"), "").flatMap(_.toLongOption).toSet
    val log = ckpt.resolve("sources/0")
    if (!Files.exists(log)) return Map.empty
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val base = landing.toUri.toString.stripSuffix("/") + "/"
    val ls = Files.list(log)
    try ls.iterator().asScala.toSeq.filterNot(_.getFileName.toString.startsWith(".")).flatMap { f =>
      Files.readAllLines(f).asScala.drop(1).filter(_.startsWith("{")).map(mapper.readTree)
    }.map(j => j.get("path").asText() -> j.get("batchId").asLong())
      .filter { case (_, id) => commits.contains(id) }
      .map { case (p, id) => p.stripPrefix(base) -> id }
      .toMap
    finally ls.close()
  }

  def run(r: Run): Unit = {
    val spark = r.spark
    val traced = r.tracer.enabled
    locally {
      val w = setUp(r, warm, "warm")
      val lake = w.root.resolve("lake")
      Phases.load(r, w.manifest, w.exportRoot, lake, "warm")
      val (res, _, stepLake) = stream(r, w, lake, warm.steps, "warm-stream")
      val truth = truthOf(spark, w, res)
      Phases.compare(r, truth, stepLake, "warm-up")
      Phases.lookups(r, stepLake, w.history, warm.lookups)
      Inputs.deleteTree(w.root)
      Inputs.deleteTree(r.work.resolve("warm-stream"))
    }
    r.note("warmed up")
    r.tracer.reset()
    val warmedS = r.sinceJvmStartS
    val size = full(r.seconds)
    val in = Phases.setUps(r, warmedS)(i => setUp(r, size, s"in$i"))(_.root)

    val lake = in.root.resolve("lake")
    val loads = (0 until Phases.Reps).map(i => Phases.load(r, in.manifest, in.exportRoot, lake, s"load-$i"))
    r.metric("load_rows_per_s", in.history.size / Stats.median(loads))
    r.note("loaded")

    val (results, batches, streamLake) = stream(r, in, lake, size.steps, "stream")
    r.note("streamed")
    val base = results.head
    val truth = truthOf(spark, in, results)
    val compares = (0 until Phases.Reps).map(i => Phases.compare(r, truth, streamLake, s"streamed-$i"))
    r.metric("compare_s", Stats.median(compares))
    r.metric("tick_s_p50", Stats.median(base.batches.map(_.durMs("triggerExecution") / 1000.0)))
    // merge capacity: changes merged per second of batch time, all steps
    r.metric("merge_changes_per_s", results.map(_.landedRows).sum /
      batches.map(_.durMs("triggerExecution") / 1000.0).sum)
    r.metric("freshness_s_p50", Stats.percentile(base.freshnessS, 50))
    r.metric("freshness_s_p90", Stats.percentile(base.freshnessS, 90))
    val looks = Phases.lookups(r, streamLake, in.history ++ stateOf(results.flatMap(_.changes)), size.lookups)
    r.metric("lookup_ms_p50", Stats.percentile(looks, 50))
    r.note("read")

    if (traced) {
      r.perLayer("codec.export_decode_s", Stats.median((0 until Phases.Reps).map(_ =>
        Phases.replayDecode(r, in.manifest, in.exportRoot))))
      val landedAll = results.map(_.landedRows).sum
      r.tracer.counters.foreach { c =>
        c.settle()
        r.perLayer("ingest.bytes_written_per_change", c.get("streaming.batch", "output_bytes").toDouble / landedAll)
      }
      r.perLayer("ingest.touched_days_p50", Stats.median(base.batchDays.map(_.toDouble)))
      r.perLayer("merge.dedup_rows_in_out", base.batchKeys.map(_._1).sum.toDouble / base.batchKeys.map(_._2).sum)
      r.perLayer("ingest.lake_files_end", Phases.lakeFiles(streamLake))
      def p50(key: String) = Stats.median(base.batches.map(_.durMs.getOrElse(key, 0L).toDouble))
      r.perLayer("ingest.land_ms_p50", Stats.median(base.landMs))
      r.perLayer("streaming.trigger_ms_p50", p50("triggerExecution"))
      r.perLayer("streaming.add_batch_ms_p50", p50("addBatch"))
      r.perLayer("streaming.latest_offset_ms_p50", p50("latestOffset"))
      r.perLayer("streaming.log_commit_ms_p50", Stats.median(base.batches.map(b =>
        (b.durMs.getOrElse("walCommit", 0L) + b.durMs.getOrElse("commitOffsets", 0L)).toDouble)))
      r.perLayer("streaming.batches", batches.size)
      r.perLayer("streaming.rows_read_per_landed_row",
        batches.map(_.inputRows).sum.toDouble / landedAll)
      r.perLayer("streaming.backlog_files_end", results.map(_.backlogFilesEnd).max)
      r.perLayer("gen.lag_ms_p99", Stats.percentile(results.flatMap(_.lagMs), 99))
      // a step's last landing is not merged yet when the step ends: its
      // files (two when it spans a minute) plus one may wait
      val sustained = results.filter(s =>
        Stats.percentile(s.freshnessS, 90) <= FreshnessLimitS && s.backlogFilesEnd <= 3)
      r.perLayer("streaming.sustained_changes_per_s", if (sustained.isEmpty) 0 else sustained.map(_.step.rate).max)
    }
  }

  /** The stream generator's table state after the given changes. */
  def stateOf(changes: Seq[CdcEvent]): Seq[Transaction] = {
    val m = mutable.LinkedHashMap.empty[(String, String), Transaction]
    changes.foreach { e =>
      m((e.account, e.create_at)) = Transaction(e.account, e.create_at, e.update_at, e.entity,
        e.amount, e.is_credit, e.note)
    }
    m.values.toSeq
  }

  /** Source truth after a stream: the history plus every step's changes. */
  private def truthOf(spark: SparkSession, in: Prepared, res: Seq[StepResult]) =
    spark.read.parquet(in.root.resolve("truth").toString)
      .unionByName(Inputs.truthDf(spark, stateOf(res.flatMap(_.changes))))
}
