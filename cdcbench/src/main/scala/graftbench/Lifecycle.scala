package graftbench

import java.nio.file.Path
import java.time.{Duration, Instant}

import scala.collection.mutable

import graft.ingest.{Ingest, TableWriter}
import graft.merge.Merge
import graft.model.{CdcEvent, Transaction}
import graft.orchestrate.{CdcTracker, Persist}

/** `lifecycle-scatter`: the paper's batch lifecycle as a closed loop.
  *
  * An export of the generator's history is loaded; the generator's
  * continuation (plus a short replay of pre-export changes) waits in the
  * landing zone as a minute-partitioned backlog, which the cron tracker
  * drains 100 files per tick. Updates hit one of a random account's
  * latest three rows, so they scatter over the whole history and a tick
  * rewrites many day partitions: the work sits in `merge` and `ingest`.
  * Lookups and the compare oracle then run on a lake that has taken
  * every tick's commit.
  */
object Lifecycle {
  import Run.timed

  /** The tracker advances its cursor to the end of the planned range
    * even when the 100-file cap left files in it (as the reference's
    * orchestrator does), so a range may span at most 100 minute files:
    * one file per minute, 100 minutes.
    */
  val MaxInterval: Duration = Duration.ofMinutes(100)

  final case class Size(historyEvents: Int, backlogEvents: Int, overlap: Int,
                        tickMicros: Long, exportFiles: Int, lookups: Int)

  /** The history spans about five virtual days; the backlog grows with
    * the measured time, 250 changes per second of `--seconds`.
    */
  def full(seconds: Int): Size = Size(historyEvents = 20000, backlogEvents = 250 * seconds, overlap = 100,
    tickMicros = 14400000L, exportFiles = 8, lookups = Phases.Lookups)
  val warm = Size(historyEvents = 2000, backlogEvents = 700, overlap = 50,
    tickMicros = 14400000L, exportFiles = 2, lookups = Phases.WarmLookups)

  final class Prepared(val root: Path, val manifest: Path, val exportRoot: Path,
                       val landing: Path, val truth: Path,
                       val byMinute: Map[String, Seq[CdcEvent]],
                       val exportedState: Seq[Transaction],
                       val finalState: Seq[Transaction]) {
    def exported: Int = exportedState.size
  }

  /** Generator history -> export + manifest; continuation -> landed
    * backlog; final source state -> truth parquet.
    */
  def setUp(r: Run, size: Size, name: String): Prepared = {
    val root = r.dir(name)
    val faker = new FastFaker(r.seed, tickMicros = size.tickMicros)
    val history = faker.events(size.historyEvents)
    val snapshot = faker.tableState
    val exportRoot = Inputs.writeExport(snapshot, root.resolve("export"), root.resolve("manifest"), size.exportFiles)
    val backlog = history.takeRight(size.overlap) ++ faker.events(size.backlogEvents)
    val byMinute = Inputs.landBacklog(backlog, root.resolve("landing"))
    val finalState = faker.tableState
    Inputs.writeTruth(r.spark, finalState, root.resolve("truth"))
    new Prepared(root, root.resolve("manifest"), exportRoot, root.resolve("landing"),
      root.resolve("truth"), byMinute, snapshot, finalState)
  }

  /** One tracker tick. `pruneMs` is the landing clean-up after it;
    * `upsertS` the traced replay of its merge before it.
    */
  final case class Tick(seconds: Double, commitEndNs: Long, changes: Int, files: Int,
                        touchedDays: Int, distinctKeys: Int, rowsRewritten: Long,
                        pruneMs: Double, upsertS: Option[Double])

  /** Drain the backlog with the tracker; returns one record per tick. */
  def drain(r: Run, in: Prepared, lake: Path, traced: Boolean): Seq[Tick] = {
    val spark = r.spark
    val landing = in.landing.toString
    val minutes = in.byMinute.keys.toVector.sorted
    var state = CdcTracker.State(CdcTracker.partitionOf(
      CdcTracker.parsePartition(minutes.head).minus(Duration.ofMinutes(1))), None, None, readyToRunNext = true)
    val now = CdcTracker.parsePartition(minutes.last).plus(Duration.ofMinutes(3))
    val last = CdcTracker.parsePartition(minutes.last)
    val ticks = mutable.ArrayBuffer.empty[Tick]
    // lake keys and rows per create day, kept from the generated inputs
    // to count the rows each tick's touched partitions hold
    val keys = mutable.HashSet.empty[(String, String)]
    val dayRows = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    in.exportedState.foreach { t => keys += ((t.account, t.create_at)); dayRows(t.create_at.take(10)) += 1 }
    val statePath = in.root.resolve("tracker/state.json").toString
    Persist.writeState(state, statePath)
    while (CdcTracker.parsePartition(state.lastProcessedPartition).isBefore(last)) {
      val n = ticks.size
      val tr = s"tick-$n"
      val upsertS = if (traced) replayUpsert(r, in, lake, state, now) else None
      val t0 = System.nanoTime()
      val files = r.tracer.span("tick", tr) {
        val plan = r.tracer.span("orchestrate.plan") {
          val st = Persist.readState(statePath).get
          CdcTracker.plan(st, now, Inputs.listFiles(in.landing, ".json"), maxFiles = 100, maxInterval = MaxInterval)
        }.getOrElse(throw new IllegalStateException("tracker planned nothing with a backlog left"))
        val input = r.tracer.span("orchestrate.persist") {
          val p = in.root.resolve(s"tracker/input_$n.json").toString
          Persist.writeJobInput(Persist.JobInput(plan.startAfterPartition, plan.endBeforePartition, plan.files), p)
          state = CdcTracker.launched(state, plan, s"run-$n")
          Persist.writeState(state, statePath)
          Persist.readJobInput(p)
        }
        if (input.s3uriList.nonEmpty) {
          val delta = Ingest.toLakeRows(Ingest.readCdcFiles(spark, input.s3uriList.map(f => s"$landing/$f")))
          r.tracer.span("ingest.merge_commit") { TableWriter.mergeCommit(spark, delta, lake.toString) }
        }
        input.s3uriList
      }
      val t1 = System.nanoTime()
      r.tracer.span("orchestrate.persist", tr) {
        state = CdcTracker.completed(state)
        Persist.writeState(state, statePath)
      }
      val (_, pruneS) = timed {
        r.tracer.span("ingest.prune_landing", tr) { Ingest.pruneLanding(landing, state.lastProcessedPartition) }
      }
      val events = files.flatMap(f => in.byMinute(f.split('/').init.mkString("/")))
      events.foreach { e => if (keys.add((e.account, e.create_at))) dayRows(e.create_at.take(10)) += 1 }
      val days = events.map(_.create_at.take(10)).distinct
      ticks += Tick((t1 - t0) / 1e9, t1, events.size, files.size, days.size,
        events.map(e => (e.account, e.create_at)).distinct.size, days.map(dayRows).sum,
        pruneS * 1000, upsertS)
    }
    ticks.toSeq
  }

  /** Traced only, before the tick: the merge the tick is about to run,
    * on its pruned slice and into a noop sink, so `Merge.upsert` is
    * timed apart from the write. Planning is pure, so the tick plans
    * the same files again.
    */
  private def replayUpsert(r: Run, in: Prepared, lake: Path, state: CdcTracker.State,
                           now: Instant): Option[Double] =
    CdcTracker.plan(state, now, Inputs.listFiles(in.landing, ".json"), maxFiles = 100, maxInterval = MaxInterval)
      .flatMap { p =>
        val delta = Ingest.toLakeRows(Ingest.readCdcFiles(r.spark, p.files.map(f => s"${in.landing}/$f")))
        TableWriter.touchedPartitionsPredicate(delta).map { pred =>
          val slice = TableWriter.read(r.spark, lake.toString).filter(pred)
          timed {
            r.tracer.span("merge.upsert", "replay") {
              Merge.upsert(slice, delta).write.format("noop").mode("overwrite").save()
            }
          }._2
        }
      }

  def run(r: Run): Unit = {
    val traced = r.tracer.enabled
    // warm the JIT and Spark's code generation on a miniature of the run
    locally {
      val w = setUp(r, warm, "warm")
      val lake = w.root.resolve("lake")
      Phases.load(r, w.manifest, w.exportRoot, lake, "warm")
      drain(r, w, lake, traced = false)
      val truth = r.spark.read.parquet(w.truth.toString)
      Phases.compare(r, truth, lake, "warm-up")
      Phases.lookups(r, lake, w.finalState, warm.lookups)
      Inputs.deleteTree(w.root)
    }
    r.note("warmed up")
    r.tracer.reset()
    val warmedS = r.sinceJvmStartS
    val size = full(r.seconds)
    val in = Phases.setUps(r, warmedS)(i => setUp(r, size, s"in$i"))(_.root)

    // the initial load, onto the same path each time; the last one stays
    val lake = in.root.resolve("lake")
    val loads = (0 until Phases.Reps).map(i => Phases.load(r, in.manifest, in.exportRoot, lake, s"load-$i"))
    r.check(TableWriter.read(r.spark, lake.toString).count() == in.exported, "initial load row count")
    r.metric("load_rows_per_s", in.exported / Stats.median(loads))
    r.note("loaded")

    val drainStart = System.nanoTime()
    val ticks = drain(r, in, lake, traced)
    val changes = ticks.map(_.changes).sum
    r.metric("tick_s_p50", Stats.percentile(ticks.map(_.seconds), 50))
    r.metric("merge_changes_per_s", changes / ticks.map(_.seconds).sum)
    // freshness of a backlog change: from the moment the backlog is
    // due (the drain starts) to the commit of the tick that carried it
    val fresh = ticks.flatMap(t => Seq.fill(t.changes)((t.commitEndNs - drainStart) / 1e9))
    r.metric("freshness_s_p50", Stats.percentile(fresh, 50))
    r.metric("freshness_s_p90", Stats.percentile(fresh, 90))
    r.note(s"drained in ${ticks.size} ticks")

    val truth = r.spark.read.parquet(in.truth.toString)
    val compares = (0 until Phases.Reps).map(i => Phases.compare(r, truth, lake, s"drained-$i"))
    r.metric("compare_s", Stats.median(compares))
    val looks = Phases.lookups(r, lake, in.finalState, size.lookups)
    r.metric("lookup_ms_p50", Stats.percentile(looks, 50))
    r.note("read")

    if (traced) {
      r.perLayer("codec.export_decode_s", Stats.median((0 until Phases.Reps).map(_ =>
        Phases.replayDecode(r, in.manifest, in.exportRoot))))
      r.perLayer("orchestrate.ticks", ticks.size)
      r.perLayer("orchestrate.files_per_tick_p50", Stats.median(ticks.map(_.files.toDouble)))
      r.perLayer("ingest.touched_days_p50", Stats.median(ticks.map(_.touchedDays.toDouble)))
      r.perLayer("merge.dedup_rows_in_out", changes.toDouble / ticks.map(_.distinctKeys).sum)
      val upserts = ticks.flatMap(_.upsertS)
      r.perLayer("merge.upsert_s_p50", if (upserts.isEmpty) 0 else Stats.median(upserts))
      r.perLayer("ingest.prune_landing_ms", ticks.map(_.pruneMs).sum)
      r.tracer.counters.foreach { c =>
        c.settle()
        r.perLayer("ingest.bytes_written_per_change", c.get("ingest.merge_commit", "output_bytes").toDouble / changes)
      }
      r.perLayer("ingest.rows_rewritten_per_change", ticks.map(_.rowsRewritten).sum.toDouble / changes)
      r.perLayer("ingest.lake_files_end", Phases.lakeFiles(lake))
    }
  }
}
