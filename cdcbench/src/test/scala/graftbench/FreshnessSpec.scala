package graftbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

class FreshnessSpec extends AnyFunSuite {

  test("every change is attributed exactly once, to the batch that committed its file") {
    // three files, two committed batches; change c is due at c ms
    val files = Map("m1/a.json" -> Seq(100, 200), "m2/b.json" -> Seq(300), "m3/c.json" -> Seq(400, 500))
    val fileBatch = Map("m1/a.json" -> 0L, "m2/b.json" -> 1L, "m3/c.json" -> 1L)
    val ends = Map(0L -> 1100L, 1L -> 2500L)
    val got = StreamHot.attribute[Int](files, fileBatch, ends, _.toDouble).sortBy(_._1)
    assert(got === Seq(100 -> 1.0, 200 -> 0.9, 300 -> 2.2, 400 -> 2.1, 500 -> 2.0))
    // a file no committed batch read is left out, so the count shows it
    assert(StreamHot.attribute[Int](files, fileBatch - "m2/b.json", ends, _.toDouble).size === 4)
  }

  test("the checkpoint's file-source log maps landed files to committed batches only") {
    val root = Files.createTempDirectory("cdcbench_ckpt")
    val landing = Files.createDirectories(root.resolve("landing"))
    val log = Files.createDirectories(root.resolve("ckpt/sources/0"))
    Files.createDirectories(root.resolve("ckpt/commits"))
    def entry(f: String, id: Int) =
      s"""{"path":"${landing.toUri.toString.stripSuffix("/")}/$f","timestamp":1,"batchId":$id}"""
    Files.writeString(log.resolve("0"), Seq("v1", entry("year=2023/a.json", 0)).mkString("\n"))
    Files.writeString(log.resolve("1"), Seq("v1", entry("year=2023/b.json", 1), entry("year=2023/c.json", 1)).mkString("\n"))
    Files.writeString(root.resolve("ckpt/commits/0"), "v1\n{}")
    assert(StreamHot.committedFiles(root.resolve("ckpt"), landing) === Map("year=2023/a.json" -> 0L))
    Files.writeString(root.resolve("ckpt/commits/1"), "v1\n{}")
    assert(StreamHot.committedFiles(root.resolve("ckpt"), landing).values.toSet === Set(0L, 1L))
    Inputs.deleteTree(root)
  }

  test("a short two-step open-loop stream lands, merges and attributes every change") {
    val work = Files.createTempDirectory("cdcbench_stream")
    val spark = GraftSession.local("2")
    val r = new Run(spark, new Tracer(false, spark.sparkContext), work, seed = 7L, seconds = 3)
    val in = StreamHot.setUp(r, StreamHot.warm, "in")
    val lake = in.root.resolve("lake")
    Phases.load(r, in.manifest, in.exportRoot, lake, "load")
    val (res, batches, streamLake) = StreamHot.stream(r, in, lake,
      Seq(StreamHot.Step(rate = 40, seconds = 2), StreamHot.Step(rate = 80, seconds = 2)), "stream")
    assert(res.map(_.landedRows).sum > 150)
    assert(res.forall(s => s.freshnessS.size == s.landedRows && s.freshnessS.forall(_ > 0)))
    assert(batches.nonEmpty && batches.map(_.inputRows).sum >= res.map(_.landedRows).sum)
    Phases.compare(r, spark.read.parquet(in.root.resolve("truth").toString)
      .unionByName(Inputs.truthDf(spark, StreamHot.stateOf(res.flatMap(_.changes)))), streamLake, "stream")
    assert(r.failed === 0, r.problems.mkString("; "))
    assert(r.attempted >= 2)
    Inputs.deleteTree(work)
  }
}
