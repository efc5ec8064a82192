package graftbench

import java.nio.file.{Files, Path, Paths}

import graft.GraftSession

/** One benchmark run of one workload, in one JVM:
  *
  * {{{
  * Main --workload lifecycle-scatter|stream-hot --seed N --seconds S
  *      --trace 0|1 --work DIR --out FILE [--dump FILE]
  * }}}
  *
  * Writes the run's result (end-to-end metrics, per-layer metrics when
  * traced, and the correctness tally) as one JSON object to `--out`;
  * with `--trace 1` it also writes every span and engine counter to
  * `--dump`. `cdcbench/run.py` builds the program, runs this and prints
  * the result line.
  */
object Main {
  val Workloads = Seq("lifecycle-scatter", "stream-hot")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(Workloads.contains(workload), s"--workload must be one of ${Workloads.mkString(", ")}")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    Inputs.deleteTree(work)
    Files.createDirectories(work)

    val cpus = math.min(Runtime.getRuntime.availableProcessors, 32).toString
    val spark = GraftSession.builder(cpus)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val r = new Run(spark, new Tracer(traced, spark.sparkContext), work, seed, seconds)
    r.note("session started")
    try {
      workload match {
        case "lifecycle-scatter" => Lifecycle.run(r)
        case "stream-hot" => StreamHot.run(r)
      }
      r.metric("peak_rss_mb", Phases.peakRssMb())
      if (traced) layerMetrics(r, opts.get("dump").map(Paths.get(_)))
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        r.check(ok = false, s"$workload threw ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    Files.writeString(Paths.get(opts("out")), Json.render(Map(
      "correct" -> (r.failed == 0 && r.attempted > 0),
      "attempted" -> r.attempted,
      "failed" -> r.failed,
      "problems" -> r.problems.toSeq,
      "metrics" -> asJson(r.metrics),
      "layer" -> asJson(r.layer))))
    spark.stop()
  }

  private def asJson(m: collection.Map[String, (Double, String)]): Map[String, Any] =
    m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap

  /** Per-layer metrics read off the spans and engine counters. */
  private def layerMetrics(r: Run, dump: Option[Path]): Unit = {
    val t = r.tracer
    t.counters.foreach(_.settle())
    val spans = t.spans
    val self = Tracer.selfTimes(spans)
    def durs(name: String) = spans.filter(_.name == name).map(_.durNs / 1e9)
    def p50(name: String, scale: Double) = { val d = durs(name); if (d.isEmpty) 0.0 else Stats.median(d) * scale }

    r.perLayer("sources.manifest_read_ms", p50("sources.manifest_read", 1000))
    r.perLayer("ingest.bulk_write_s", p50("ingest.bulk_write", 1))
    r.perLayer("orchestrate.plan_ms_p50", p50("orchestrate.plan", 1000))
    val persist = spans.filter(_.name == "orchestrate.persist").groupBy(_.trace).values.map(_.map(_.durNs).sum / 1e6).toSeq
    r.perLayer("orchestrate.persist_ms_p50", if (persist.isEmpty) 0 else Stats.median(persist))
    r.perLayer("ingest.merge_commit_s_p50", p50("ingest.merge_commit", 1))
    Metrics.Layers.foreach { l =>
      r.perLayer(s"$l.self_s", spans.filter(_.name.startsWith(l + ".")).map(s => self(s.id)).sum / 1e9)
    }
    t.counters.foreach { c =>
      for (s <- Metrics.CountedSpans; k <- Metrics.Counters)
        r.perLayer(s"$s.$k", c.get(s, k).toDouble)
    }
    // a layer this workload bypasses did no work; the overhead ratios
    // need the untraced run and are added by run.py
    Metrics.perLayer.map(_.name).filterNot(_.startsWith("trace.")).filterNot(r.layer.contains)
      .foreach(r.perLayer(_, 0))
    // a tick's children run one after another inside it: their self
    // times can only add up to more than the tick if the accounting is off
    val kids = spans.groupBy(_.parent)
    spans.filter(_.name == "tick").foreach { tick =>
      val sum = kids.getOrElse(tick.id, Nil).map(c => self(c.id)).sum
      r.check(sum <= tick.durNs, s"${tick.trace}: children's self time $sum ns exceeds the tick's ${tick.durNs} ns")
    }
    dump.foreach { p =>
      val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
      Files.writeString(p, Json.render(Map(
        "spans" -> spans.sortBy(_.startNs).map(s => Map(
          "id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name,
          "start_ms" -> (s.startNs - t0) / 1e6, "dur_ms" -> s.durNs / 1e6, "self_ms" -> self(s.id) / 1e6)),
        "metrics" -> asJson(r.metrics),
        "layer" -> asJson(r.layer))))
    }
  }
}

/** Just enough JSON output for the result and the span dump. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] => m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
}
