package graft

import graft.operators.{PairIndex, TextAnalysis}
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._

/** Cross-JVM persisted-index pin: a DocIndex materialized by ONE JVM
  * is consumable — and ADVANCEABLE — by a FRESH JVM purely through the
  * catalog (bucketed-table metadata plus the TBLPROPERTIES semantics
  * stamp), with results row-identical to same-JVM computation. This is
  * the property a real pipeline leans on daily: the materialize job and
  * the consume/advance jobs are different applications.
  *
  * The spec runs the two halves of [[CrossJvmPinSpec.main]] in two
  * child JVMs that share a Hive catalog (embedded Derby metastore and
  * warehouse) in a temp dir — the stand-in for the served metastore a
  * real cluster shares between jobs:
  *  1. `write`: materialize the four-artifact index with EXPLICIT names
  *     (outside the reserved graft_pair_* prefixes, as sweepStale's
  *     contract requires of standing artifacts) on the mod-16 corpus
  *     split; print the curation consumer's aggregate.
  *  2. `read`: CONSUME the persisted index, then ADVANCE it with the
  *     mod-16 batch — threshold/cap/k/buckets all come from the
  *     TBLPROPERTIES round-trip — and print both the advanced index's
  *     curation and a from-scratch full-corpus reference. */
class CrossJvmPinSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.01"

  /** Run one half in a child JVM (same classpath, the build's
    * `--add-opens` list) with `dir` as its working directory, so the
    * metastore and warehouse land there; returns its tagged lines. */
  private def child(mode: String, dir: Path): Seq[String] = {
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(_.startsWith("--add-opens"))
    val cmd = Seq(Paths.get(sys.props("java.home"), "bin", "java").toString) ++
      opens ++ Seq("-Xmx2g", "-cp", sys.props("java.class.path"),
        "graft.CrossJvmPinSpec", mode, sfDir)
    val out = dir.resolve(s"$mode.out")
    val err = dir.resolve(s"$mode.err")
    val p = new ProcessBuilder(cmd: _*).directory(dir.toFile)
      .redirectOutput(out.toFile).redirectError(err.toFile).start()
    if (!p.waitFor(15, TimeUnit.MINUTES)) {
      p.destroyForcibly()
      fail(s"$mode JVM timed out")
    }
    def errTail = Files.readAllLines(err).asScala.takeRight(40).mkString("\n")
    assert(p.exitValue() == 0, s"$mode JVM exited ${p.exitValue()}:\n$errTail")
    Files.readAllLines(out).asScala.toSeq
      .collect { case l if l.startsWith("XJVM ") => l.stripPrefix("XJVM ") }
  }

  test("an index written by one JVM is consumed and advanced by a fresh JVM through the catalog") {
    assume(Files.isDirectory(Paths.get(sfDir)), s"$sfDir absent")
    val dir = Files.createTempDirectory("graft_xjvm")
    try {
      val written = child("write", dir)
      val read = child("read", dir)
      def tagged(lines: Seq[String], tag: String) =
        lines.collect { case l if l.startsWith(s"$tag ") => l.stripPrefix(s"$tag ") }
      val writerC80 = tagged(written, "corpus80")
      val readerC80 = tagged(read, "corpus80")
      assert(writerC80.nonEmpty && readerC80.nonEmpty)
      assert(readerC80 === writerC80, "reader's consumption != writer's")
      val advanced = tagged(read, "advanced")
      val scratch = tagged(read, "fullscratch")
      assert(advanced.nonEmpty && scratch.nonEmpty)
      assert(advanced === scratch, "cross-JVM advance != from-scratch build")
    } finally {
      val walk = Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally walk.close()
    }
  }
}

object CrossJvmPinSpec {
  private val Surv = "xjvm_pair_survivors"
  private val Pairs = "xjvm_pair_index"
  private val Post = "xjvm_pair_postings"
  private val Df = "xjvm_pair_df"

  /** `write <sfDir>` or `read <sfDir>`; prints `XJVM <tag> <row>` lines,
    * sorted per tag. */
  def main(args: Array[String]): Unit = {
    val Array(mode, sfDir) = args
    val spark = GraftSession.builder().enableHiveSupport().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Tables.documents(spark, sfDir)
    def show(tag: String, df: DataFrame): Unit =
      df.collect().map(_.toString).sorted.foreach(r => println(s"XJVM $tag $r"))
    def curate(idx: PairIndex.DocIndex) =
      PairIndex.curateFromIndex(spark, idx, "doc_id", "text")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text"))).as("sum_tokens"))
    mode match {
      case "write" =>
        val idx = PairIndex.materializeDocIndex(
          docs.filter(pmod(col("doc_id"), lit(16)) =!= 0), "doc_id", "text",
          keepPostings = true,
          survivorsTable = Surv, pairsTable = Pairs,
          postingsTable = Post, dfTable = Df)
        show("corpus80", curate(idx))
      case "read" =>
        val idx = PairIndex.DocIndex(Surv, Pairs, Some(Post), Some(Df))
        show("corpus80", curate(idx))
        val adv = PairIndex.advanceDocIndex(spark, idx,
          docs.filter(pmod(col("doc_id"), lit(16)) === 0), "doc_id", "text",
          economyGuard = Double.PositiveInfinity)
        show("advanced", curate(adv.idx))
        val scratch = PairIndex.materializeDocIndex(docs, "doc_id", "text",
          keepPostings = true)
        show("fullscratch", curate(scratch))
        PairIndex.dropDocIndex(spark, scratch)
        PairIndex.dropSuperseded(spark, idx, adv.idx)
        PairIndex.dropDocIndex(spark, adv.idx)
    }
    spark.stop()
  }
}
