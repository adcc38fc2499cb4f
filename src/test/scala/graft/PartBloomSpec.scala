package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** Laws of the per-part bloom filter (no Spark needed): zero false
  * negatives at any fold size, fold-equals-direct-build, hex
  * round-trip, and the legacy-manifest degrade path. */
class PartBloomSpec extends AnyFunSuite {

  private val keys = (0L until 500L).map(k => k * 7919L - 250L)

  test("no false negatives at max size and after every fold") {
    val bits = PartBloom.newBits()
    keys.foreach(PartBloom.add(bits, _))
    assert(keys.forall(PartBloom.mightContain(bits, _)))
    var cur = PartBloom.shrinkFor(bits, keys.length.toLong)
    assert(keys.forall(PartBloom.mightContain(cur, _)),
      "folding must preserve membership")
  }

  test("fold of the max-size build equals a direct build at target size") {
    val big = PartBloom.newBits()
    keys.foreach(PartBloom.add(big, _))
    val folded = PartBloom.shrinkFor(big, keys.length.toLong)
    // direct build at the same size: add into an array of that length
    val direct = new Array[Long](folded.length)
    keys.foreach(PartBloom.add(direct, _))
    assert(folded.toSeq === direct.toSeq,
      "(h mod 2m) mod m = h mod m ⇒ OR-fold is exact, not approximate")
  }

  test("false-positive rate at 10 bits/key is small") {
    val bits = PartBloom.newBits()
    keys.foreach(PartBloom.add(bits, _))
    val sized = PartBloom.shrinkFor(bits, keys.length.toLong)
    val absent = (0L until 10000L).map(k => k * 104729L + 13L)
      .filterNot(keys.toSet)
    val fp = absent.count(PartBloom.mightContain(sized, _))
    assert(fp.toDouble / absent.length < 0.05,
      s"fp rate ${fp.toDouble / absent.length} too high for 10 bits/key")
  }

  test("hex round-trip and legacy empty-field degrade") {
    val bits = PartBloom.newBits()
    keys.take(50).foreach(PartBloom.add(bits, _))
    val sized = PartBloom.shrinkFor(bits, 50L)
    assert(PartBloom.fromHex(PartBloom.toHex(sized)).toSeq === sized.toSeq)
    assert(PartBloom.fromHex("").isEmpty && PartBloom.fromHex(null).isEmpty)
    // a column record with no bloom keeps pure range behavior
    val legacy = ColStat('l', "0", "100")
    assert(legacy.mayContain(50L) && !legacy.mayContain(101L))
  }
}
