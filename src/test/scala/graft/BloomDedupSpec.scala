package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Bloom-prefiltered incremental dedup ([[Dedup.bloomIncremental]]):
  * the three properties a membership sketch must keep — no false
  * negatives (a miss is a definitive "new"), false positives exist
  * and are LABELED (hit ∧ ¬dup), and the bitmap probe agrees with a
  * join-only reference on every row. */
class BloomDedupSpec extends SparkSpec {
  import spark.implicits._

  private def frame(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")

  test("no false negatives: every exact dup in the batch hits and is_dup") {
    val existing = frame((1L to 50L).map(i => (i, s"existing document number $i with content")))
    val batch = frame(Seq(
      (101L, "existing document number 7 with content"),
      (102L, "EXISTING DOCUMENT NUMBER 20 WITH CONTENT"), // dup after lower()
      (103L, "a genuinely new document")))
    val out = Dedup.bloomIncremental(existing, batch, "doc_id", "text",
        nBits = Dedup.bloomBitsFor(50))
      .orderBy("doc_id").collect()
    val m = out.map(r =>
      r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))).toMap
    assert(m(101L) == ((true, true, false)))
    assert(m(102L) == ((true, true, false)))
    assert(!m(103L)._2)
    out.foreach(r => assert(r.getBoolean(3) == (r.getBoolean(1) && !r.getBoolean(2))))
  }

  test("saturated tiny bloom forces a labeled false positive") {
    // 200 existing docs × 4 hashes over a 64-bit bloom saturate the
    // filter (md5 is deterministic — this corpus pins every bit), so an
    // unseen batch doc must read hit=true / is_dup=false / fp=true.
    // This is the documented degradation mode: a too-small bloom
    // decays to hit-everything (the unfiltered join), never to a
    // wrong is_dup.
    val existing = frame((1L to 200L).map(i => (i, s"filler doc $i")))
    val batch = frame(Seq((900L, "never seen before text")))
    val out = Dedup.bloomIncremental(existing, batch, "doc_id", "text",
      nBits = 64).collect()
    assert(out.length == 1)
    assert(out(0).getBoolean(1), "64-bit bloom with 200 elements must hit")
    assert(!out(0).getBoolean(2))
    assert(out(0).getBoolean(3))
  }

  test("bitmap probe agrees with a join-only reference on every row") {
    val existing = frame((1L to 30L).map(i => (i, s"doc body $i")))
    val batch = frame((1L to 40L).map(i =>
      (1000L + i, if (i <= 10) s"doc body $i" else s"fresh body $i")))
    val got = Dedup.bloomIncremental(existing, batch, "doc_id", "text",
        nBits = Dedup.bloomBitsFor(30))
      .orderBy("doc_id")
      .as[(Long, Boolean, Boolean, Boolean)].collect().toSeq
    assert(got.size == 40)
    val exKeys = existing.select(Dedup.contentKey(col("text")))
      .as[String].collect().toSet
    val refDup = batch
      .select(col("doc_id"), Dedup.contentKey(col("text")))
      .as[(Long, String)].collect()
      .map { case (id, k) => id -> exKeys.contains(k) }.toMap
    got.foreach { case (id, hit, dup, fp) =>
      assert(dup == refDup(id), s"doc $id is_dup")
      if (refDup(id)) assert(hit, s"doc $id: dup must always hit (no false negatives)")
      assert(fp == (hit && !dup), s"doc $id fp consistency")
    }
  }

  test("bloomBitsFor: power of two, ~16 bits/element, floored and capped") {
    assert(Dedup.bloomBitsFor(1) == (1 << 16))
    assert(Dedup.bloomBitsFor(4096) == (1 << 16))
    assert(Dedup.bloomBitsFor(5000) == (1 << 17))
    assert(Dedup.bloomBitsFor(1000000000L) == (1 << 22))
    (1L to 20L).foreach { e =>
      val b = Dedup.bloomBitsFor(1L << e)
      assert((b & (b - 1)) == 0, s"2^$e -> $b not a power of two")
    }
  }
}
