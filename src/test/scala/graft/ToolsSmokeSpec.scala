package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.lsh.HashLayout
import graft.tools._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Each measuring main's body at toy size on the shared session, with the
  * bench's own `require`s active: the printed line must be `TAG {json}`
  * with the keys BASELINE.md, SCALING.md and the verify skill quote.
  * SaltBench is left out: it refuses corpora below the 2M-row auto-salt
  * floor. */
class ToolsSmokeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private lazy val corpus = Harness.corpus(spark, 40,
    java.nio.file.Files.createTempDirectory("graft-tools-corpus").toString + "/corpus")

  private def fields(line: String, tag: String, keys: String*): Map[String, String] = {
    assert(line.startsWith(s"$tag {"), line)
    val json = new ObjectMapper().readTree(line.stripPrefix(s"$tag "))
    val names = json.fieldNames().asScala.toSet
    assert(keys.toSet.subsetOf(names), s"missing ${keys.toSet -- names} in $line")
    names.map(k => k -> json.get(k).toString).toMap
  }

  test("MillionBench recovers the planted cluster (pdq and phash, 2,000 hashes)") {
    Seq("pdq", "phash").foreach { mode =>
      val f = fields(MillionBench.measure(spark, 2000, mode), "MILLIONBENCH", "mode", "hashes",
        "edges", "sec", "hashes_per_sec", "planted_found", "planted_components", "cpus")
      assert(f("planted_found") == "5" && f("planted_components") == "1")
    }
  }

  test("CcBench: families plus a chain on the iterative path") {
    val f = fields(CcBench.measure(spark, nFamilies = 300, width = 5, giantLen = 50), "CCBENCH",
      "edges", "nodes", "components", "rounds", "giant_chain", "wall_sec", "edges_per_sec",
      "slice_equality_nodes_checked", "cpus")
    assert(f("nodes") == "1550" && f("components") == "301")
  }

  test("RegistryBench: 10k base rows") {
    val f = fields(RegistryBench.measure(spark, baseRows = 10000, deltaRows = 500),
      "REGISTRYBENCH", "base_rows", "delta_rows", "base_merge_sec", "delta_merge_sec",
      "idempotent_rerun_sec", "compact_sec", "delta_seg_rows", "cpus")
    assert(f("delta_seg_rows") == "500")
  }

  test("ChainBench carries the delta-vs-full fields") {
    val f = fields(ChainBench.measure(spark, nCorpus = 20, nDelta = 4, k = 3), "CHAINBENCH",
      "corpus_bases", "delta_bases", "k", "per_delta_sec", "head3_avg", "tail3_avg",
      "tail_over_head", "versions", "state_dirs_on_disk", "full_sec", "delta_ms_per_img",
      "delta_vs_full_per_img", "full_report_delta_sec", "cpus")
    assert(f("versions") == "4")
    // 3 deltas: the first-3 and last-3 windows are the same deltas
    assert(f("tail_over_head") == "null")
  }

  test("ProbeBench over a harness corpus") {
    val f = fields(ProbeBench.measure(spark, corpus, smallBases = 10, deltaBases = 5),
      "PROBEBENCH", "x1_t12", "x1_t40", "x10_t12", "x10_t40", "delta_bases", "cpus")
    assert(f("x10_t40").contains("\"corpus_rows\":"))
  }

  test("EdgeDiff: two dumps of one corpus diff to 0/0") {
    val out = java.nio.file.Files.createTempDirectory("graft-edgediff").toString
    val dumps = Seq("a", "b").map { d =>
      fields(EdgeDiff.dump(spark, corpus, s"$out/$d", HashLayout.Pdq, -1, 0), "EDGEDIFF",
        "dump", "layout", "threshold", "chunk_bits", "edges")
      s"$out/$d"
    }
    val f = fields(EdgeDiff.diff(spark, dumps(0), dumps(1)), "EDGEDIFF",
      "rows_a", "rows_b", "only_a", "only_b")
    assert(f("rows_a") == f("rows_b") && f("rows_a").toLong > 0)
    assert(f("only_a") == "0" && f("only_b") == "0")
  }
}
