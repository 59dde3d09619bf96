package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{SimHash, TextOps}

class SimHashSpec extends AnyFunSuite with SparkSpec {

  private def docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(150)

  test("signatures (compiled fold) ≡ simhashOf (HOF) — same votes, same bits") {
    val th = transform(TextOps.tokens(col("text")), TextOps.wideHash(_))
    val fast = SimHash.signatures(docs, "doc_id", th, 60)
    val slow = docs.select(col("doc_id"), SimHash.simhashOf(th, 60).as("sig"))
    assert(fast.exceptAll(slow).isEmpty && slow.exceptAll(fast).isEmpty)
  }

  test("simhashFast ≡ simhashOf column-for-column (incl. 32-bit width)") {
    val th = transform(TextOps.tokens(col("text")), TextOps.wideHash(_))
    for (bits <- Seq(32, 60)) {
      val both = docs.select(
        SimHash.simhashFast(th, bits).as("fast"),
        SimHash.simhashOf(th, bits).as("hof"))
      assert(both.filter(col("fast") =!= col("hof")).isEmpty, s"bits=$bits")
    }
  }

  test("nearDupPairs ≡ brute-force all-pairs at maxHamming <= bands-1 (pigeonhole)") {
    val th = transform(TextOps.tokens(col("text")), TextOps.wideHash(_))
    val sigs = SimHash.signatures(docs, "doc_id", th, 60)
    val brute = sigs.toDF("doc_i", "sig_i")
      .crossJoin(sigs.toDF("doc_j", "sig_j"))
      .filter(col("doc_i") < col("doc_j"))
      .withColumn("hamming", bit_count(col("sig_i").bitwiseXOR(col("sig_j"))).cast("long"))
      .filter(col("hamming") <= 3)
      .select("doc_i", "doc_j", "hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val banded = SimHash.nearDupPairs(docs, "doc_id", "text", bits = 60, bandBits = 15, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == brute)
    assert(brute.nonEmpty, "fixture should contain at least one near-dup pair")
  }

  test("signatures null/empty contract matches simhashOf") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(Seq(7L, 15L))),    // normal, sets low bits
      (2L, Some(Seq.empty[Long])), // empty → all-zero signature
      (3L, None)                   // null → also all-zero (when(null>0) → 0)
    ).toDF("doc_id", "th")
    val fast = SimHash.signatures(df, "doc_id", col("th"), 8)
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val slow = df.select(col("doc_id"), SimHash.simhashOf(col("th"), 8).as("sig"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(fast == slow)
    assert(fast(1L) == Some(7L), "7 and 15 share bits 0-2 → majority sets them")
    assert(fast(2L) == Some(0L) && fast(3L) == Some(0L))
  }

  test("signatures ≡ simhashOf on NEGATIVE token hashes (physical-bit votes)") {
    import spark.implicits._
    // xxhash64-style inputs: both APIs must read bit b as (h >> b) & 1; the
    // old `% 2` forms diverged on negative values (remainder is 0 or −1).
    val df = Seq(
      (1L, Seq(-1L, -1L, 3L)),          // −1 has every bit set → majority sets all
      (2L, Seq(Long.MinValue, -2L, 5L)),
      (3L, Seq(-7L, 9L, -13L, 2L))
    ).toDF("doc_id", "th")
    val fast = SimHash.signatures(df, "doc_id", col("th"), 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val slow = df.select(col("doc_id"), SimHash.simhashOf(col("th"), 8).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == slow)
    assert(fast(1L) == 0xffL, "two all-ones hashes outvote one small positive in all 8 bits")
  }

  test("random hash arrays (negatives, MinValue, empties): compiled fold ≡ HOF") {
    val rnd = new scala.util.Random(97)
    val specials = Seq(Long.MinValue, Long.MaxValue, -1L, 0L, 1L)
    val rows = Seq.tabulate(80) { i =>
      val len = rnd.nextInt(12)
      (i.toLong, Seq.fill(len)(
        if (rnd.nextInt(4) == 0) specials(rnd.nextInt(specials.length))
        else rnd.nextLong()))
    }
    import spark.implicits._
    val df = rows.toDF("doc_id", "th")
    for (bits <- Seq(8, 60)) {
      val fast = SimHash.signatures(df, "doc_id", col("th"), bits)
      val slow = df.select(col("doc_id"),
        coalesce(SimHash.simhashOf(col("th"), bits), lit(0L)).as("sig"))
      assert(fast.exceptAll(slow).isEmpty && slow.exceptAll(fast).isEmpty, s"bits=$bits")
    }
  }

  test("wideHash fills 60 bits (no dead bands)") {
    // OR of many token hashes must set bits in every 15-bit band — a dead
    // band would candidate-match every doc against every other.
    val orAll = docs
      .select(explode(transform(TextOps.tokens(col("text")), TextOps.wideHash(_))).as("h"))
      .agg(expr("bit_or(h)")).head().getLong(0)
    (0 until 4).foreach { band =>
      assert(((orAll >> (band * 15)) & 0x7fffL) != 0L, s"band $band is dead")
    }
  }

  test("crossNearDupPairs ≡ brute-force left×right at maxHamming <= bands-1") {
    val left = docs.filter(col("doc_id") % 5 === 0)
    val right = docs.filter(col("doc_id") % 5 =!= 0)
    val th = transform(TextOps.tokens(col("text")), TextOps.wideHash(_))
    val sl = SimHash.signatures(left, "doc_id", th, 60)
    val sr = SimHash.signatures(right, "doc_id", th, 60)
    val brute = sl.toDF("doc_a", "sig_a")
      .crossJoin(sr.toDF("doc_b", "sig_b"))
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
      .filter(col("hamming") <= 3)
      .select("doc_a", "doc_b", "hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val banded = SimHash.crossNearDupPairs(
        left, "doc_id", "text", right, "doc_id", "text",
        bits = 60, bandBits = 15, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == brute)
    assert(brute.nonEmpty, "fixture should contain at least one cross near-dup")
  }

  test("crossNearDupPairs never pairs a relation against itself") {
    // Split so each side holds one of two identical twins plus noise: the
    // twins pair ACROSS, but identical docs within one side must not.
    import spark.implicits._
    val twin = "alpha beta gamma delta epsilon zeta"
    val left = Seq((1L, twin), (2L, twin), (3L, "unrelated words entirely here"))
      .toDF("doc_id", "text")
    val right = Seq((10L, twin)).toDF("doc_id", "text")
    val got = SimHash.crossNearDupPairs(
        left, "doc_id", "text", right, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 10L), (2L, 10L)),
      "both left twins hit the right twin; (1,2) must NOT appear")
  }

  test("nearDupPairs rejects parameters that break the recall guarantee") {
    assertThrows[IllegalArgumentException](
      SimHash.nearDupPairs(docs, "doc_id", "text", bits = 60, bandBits = 15, maxHamming = 4))
    assertThrows[IllegalArgumentException](
      SimHash.nearDupPairs(docs, "doc_id", "text", bits = 64, bandBits = 16, maxHamming = 3))
  }
}
