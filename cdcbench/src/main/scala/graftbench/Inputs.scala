package graftbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ingest.Ingest
import graft.model.{CdcEvent, Transaction}

/** Writes the generated inputs in the shapes the source systems emit:
  * a DynamoDB export (gzip DynamoDB-JSON + manifest), minute-partitioned
  * landed CDC files and DynamoDB-Streams records. This is the source
  * side of the pipeline, so it is plain file IO: graft only ever reads
  * these files.
  */
object Inputs {

  private def q(s: String): String = {
    val b = new StringBuilder(s.length + 2).append('"')
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  private def item(t: Transaction): String =
    s"""{"account":{"S":${q(t.account)}},"create_at":{"S":${q(t.create_at)}},""" +
      s""""update_at":{"S":${q(t.update_at)}},"entity":{"S":${q(t.entity)}},""" +
      s""""amount":{"N":"${t.amount}"},"is_credit":{"N":"${t.is_credit}"},"note":{"S":${q(t.note)}}}"""

  /** One DynamoDB export: `files` gzip data files of `{"Item": ...}`
    * lines under `<root>/AWSDynamoDB/<exportId>/data/`, and the
    * manifest-files listing under `manifestDir`. Returns the export
    * root that the manifest's keys are relative to.
    */
  def writeExport(rows: Seq[Transaction], root: Path, manifestDir: Path,
                  files: Int, exportId: String = "01690000000000-graftbench"): Path = {
    val dataDir = root.resolve(s"AWSDynamoDB/$exportId/data")
    Files.createDirectories(dataDir)
    Files.createDirectories(manifestDir)
    val per = math.max(1, (rows.size + files - 1) / files)
    val manifest = rows.grouped(per).zipWithIndex.map { case (chunk, i) =>
      val name = f"$i%06d.json.gz"
      val w = new BufferedWriter(new OutputStreamWriter(
        new GZIPOutputStream(Files.newOutputStream(dataDir.resolve(name))), UTF_8))
      try chunk.foreach { t => w.write("{\"Item\":"); w.write(item(t)); w.write("}\n") }
      finally w.close()
      s"""{"itemCount":${chunk.size},"md5Checksum":"-","etag":"-",""" +
        s""""dataFileS3Key":"AWSDynamoDB/$exportId/data/$name"}"""
    }.toList
    Files.writeString(manifestDir.resolve("manifest-files.json"), manifest.mkString("", "\n", "\n"))
    root
  }

  /** Minute partition of an update time: `year=…/month=…/day=…/hour=…/minute=…`. */
  def minuteOf(updateAt: String): String =
    s"year=${updateAt.substring(0, 4)}/month=${updateAt.substring(5, 7)}/" +
      s"day=${updateAt.substring(8, 10)}/hour=${updateAt.substring(11, 13)}/" +
      s"minute=${updateAt.substring(14, 16)}"

  /** A flat landed CDC row, as `Ingest.landCdc` writes it. */
  def flatJson(e: CdcEvent): String =
    s"""{"account":${q(e.account)},"create_at":${q(e.create_at)},"update_at":${q(e.update_at)},""" +
      s""""entity":${q(e.entity)},"amount":${e.amount},"is_credit":${e.is_credit},"note":${q(e.note)}}"""

  /** Land events minute-partitioned by update time, one file per minute,
    * in the layout `Ingest.landCdc` produces. Returns minute -> events.
    */
  def landBacklog(events: Seq[CdcEvent], dir: Path): Map[String, Seq[CdcEvent]] = {
    val byMinute = events.groupBy(e => minuteOf(e.update_at))
    byMinute.foreach { case (m, es) =>
      val d = dir.resolve(m)
      Files.createDirectories(d)
      Files.writeString(d.resolve("part-00000.json"), es.map(flatJson).mkString("", "\n", "\n"))
    }
    byMinute
  }

  /** A DynamoDB-Streams record of one change (the wire shape
    * `DynamoDbJson.decodeStreamEvents` reads).
    */
  def streamJson(e: CdcEvent): String =
    s"""{"eventName":${q(e.eventName)},"dynamodb":{"Keys":{"account":{"S":${q(e.account)}},""" +
      s""""create_at":{"S":${q(e.create_at)}}},"NewImage":""" +
      item(Transaction(e.account, e.create_at, e.update_at, e.entity, e.amount, e.is_credit, e.note)) + "}}"

  /** Source truth as lake rows (the shape `QuerySurface.isEqual`
    * compares), written once as parquet.
    */
  def writeTruth(spark: SparkSession, rows: Seq[Transaction], path: Path): Unit =
    truthDf(spark, rows).write.mode("overwrite").parquet(path.toString)

  def truthDf(spark: SparkSession, rows: Seq[Transaction]): DataFrame = {
    import spark.implicits._
    Ingest.toLakeRows(rows.toDF())
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    } finally s.close()
  }

  /** Regular files under `dir` ending in `suffix`, relative to `dir`;
    * names starting with `_` or `.` are skipped, as Spark skips them.
    */
  def listFiles(dir: Path, suffix: String): Seq[String] = {
    if (!Files.exists(dir)) return Nil
    val s = Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(suffix))
        .map(p => dir.relativize(p).toString)
        .filterNot(_.split('/').exists(n => n.startsWith("_") || n.startsWith(".")))
        .toVector
    } finally s.close()
  }
}
