package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.codec.DynamoDbJson
import graft.ingest.{Ingest, TableWriter}
import graft.model.Transaction
import graft.query.QuerySurface
import graft.sources.Manifest

/** State of one benchmark run: the session, the tracer, the work dir,
  * the metrics gathered so far and the correctness checks made.
  */
final class Run(val spark: SparkSession, val tracer: Tracer, val work: Path,
                val seed: Long, val seconds: Int) {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  /** Seconds since this JVM started: process start, not `main`. */
  def sinceJvmStartS: Double =
    (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Progress line on stderr: what finished, and when. */
  def note(what: String): Unit = System.err.println(f"[cdcbench] $what%s at $sinceJvmStartS%.1f s")

  /** Count one attempted operation; a false `ok` is a failure. */
  def check(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) { failed += 1; problems += what; System.err.println(s"[cdcbench] FAILED: $what") }
    ok
  }

  def metric(name: String, value: Double): Unit = metrics(name) = (value, Metrics.unitOf(name))
  def perLayer(name: String, value: Double): Unit = layer(name) = (value, Metrics.unitOf(name))

  def dir(name: String): Path = {
    val p = work.resolve(name)
    Inputs.deleteTree(p)
    Files.createDirectories(p.getParent)
    p
  }
}

object Run {
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Phases both workloads share: the initial load from an export, point
  * lookups and the source/lake compare oracle.
  */
object Phases {
  import Run.timed

  /** Repetitions of the short timed phases (load, compare); the median
    * is reported.
    */
  val Reps = 5
  /** Lookups in the warm-up, which runs each timed phase once on a
    * miniature of the inputs: timings of Spark's driver-side work keep
    * falling over the first calls of a kind, as the JIT compiles its
    * paths.
    */
  val WarmLookups = 4
  /** Point lookups per run: enough for ten samples beyond the median. */
  val Lookups: Int = Stats.samplesFor(50)

  /** Set the inputs up three times, keep the last, and report `setup_s`:
    * time from JVM start to the end of the warm-up, plus the median
    * input set-up.
    */
  def setUps[I](r: Run, warmedS: Double)(setUp: Int => I)(root: I => Path): I = {
    val runs = (0 until 3).map(i => timed(setUp(i)))
    runs.init.foreach(x => Inputs.deleteTree(root(x._1)))
    r.metric("setup_s", warmedS + Stats.median(runs.map(_._2)))
    r.note("set up")
    runs.last._1
  }

  /** The paper's initial load, timed from the manifest read to the
    * return of the lake write: manifest -> export lines -> decode ->
    * lake rows -> partitioned parquet. Returns the seconds it took.
    */
  def load(r: Run, manifestDir: Path, exportRoot: Path, lake: Path, trace: String): Double = {
    val spark = r.spark
    import spark.implicits._
    val (_, s) = timed {
      r.tracer.span("load", trace) {
        val files = r.tracer.span("sources.manifest_read") {
          Manifest.readDataFiles(spark, manifestDir.toString)
            .select("dataFileS3Key").as[String].collect().sorted
            .map(k => exportRoot.resolve(k).toString).toSeq
        }
        val decoded = DynamoDbJson.decodeExportLines(spark.read.text(files: _*))
        r.tracer.span("ingest.bulk_write") {
          TableWriter.bulkWrite(Ingest.toLakeRows(decoded), lake.toString)
        }
      }
    }
    s
  }

  /** Traced only: decode the export again into a noop sink, so the
    * codec's share of the load is timed on its own.
    */
  def replayDecode(r: Run, manifestDir: Path, exportRoot: Path): Double = {
    val spark = r.spark
    import spark.implicits._
    val files = Manifest.readDataFiles(spark, manifestDir.toString)
      .select("dataFileS3Key").as[String].collect().sorted
      .map(k => exportRoot.resolve(k).toString).toSeq
    timed {
      r.tracer.span("codec.export_decode", "replay") {
        DynamoDbJson.decodeExportLines(spark.read.text(files: _*)).write.format("noop").mode("overwrite").save()
      }
    }._2
  }

  /** `latestOfKey(k = 3)` for `n` accounts drawn with the run's seed;
    * each result must equal the account's latest three rows in `truth`.
    * Returns the latencies in milliseconds.
    */
  def lookups(r: Run, lake: Path, truth: Seq[Transaction], n: Int): Seq[Double] = {
    val byAccount = truth.groupBy(_.account)
    val accounts = byAccount.keys.toVector.sorted
    val rnd = new scala.util.Random(r.seed * 31 + 7)
    (0 until n).map { i =>
      val acct = accounts(rnd.nextInt(accounts.size))
      val expected = byAccount(acct).sortBy(_.create_at)(Ordering[String].reverse).take(3)
        .map(t => (t.create_at, t.update_at, t.note))
      val (got, s) = timed {
        r.tracer.span("query.lookup", s"lookup-$i") {
          QuerySurface.latestOfKey(TableWriter.read(r.spark, lake.toString),
            "account", acct, "create_at", 3)
            .select("create_at", "update_at", "note").collect()
            .map(x => (x.getString(0), x.getString(1), x.getString(2))).toSeq
        }
      }
      r.check(got == expected, s"lookup $acct returned ${got.size} rows that differ from the source")
      s * 1000
    }
  }

  /** The paper's correctness oracle, `QuerySurface.isEqual(truth,
    * lake)`, plus equal non-zero row counts. Returns its seconds.
    */
  def compare(r: Run, truth: DataFrame, lake: Path, what: String): Double = {
    val lakeDf = TableWriter.read(r.spark, lake.toString).select(truth.columns.map(col).toIndexedSeq: _*)
    val (eq, s) = timed {
      r.tracer.span("query.compare", s"compare-$what") { QuerySurface.isEqual(truth, lakeDf) }
    }
    val (nt, nl) = (truth.count(), lakeDf.count())
    r.check(eq && nt == nl && nt > 0,
      s"$what: lake differs from the source (equal=$eq, source rows $nt, lake rows $nl)")
    s
  }

  /** Peak resident set of this JVM (local mode also hosts the executors). */
  def peakRssMb(): Double = {
    val status = Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
    import scala.jdk.CollectionConverters._
    status.asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Runtime.getRuntime.totalMemory() / 1048576.0)
  }

  def lakeFiles(lake: Path): Int = Inputs.listFiles(lake, ".parquet").size
}
