package graft

import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

/** The checksum digest's partition fold and driver combine
  * ([[SparkTableLoader.foldDigest]] / [[SparkTableLoader.combineDigest]])
  * against the exact `BigInt` sum, for any split of the rows into
  * partitions.
  */
class DigestFoldSpec extends AnyFunSuite {
  private val Max60 = (1L << 60) - 1

  // runs of one value; runs of 2^60 − 1 push a partition's sum past
  // Long.MaxValue after eight rows
  private val run: Gen[Vector[Long]] = for {
    v <- Gen.frequency(4 -> Gen.choose(0L, Max60), 2 -> Gen.const(Max60),
      1 -> Gen.const(0L))
    n <- Gen.choose(1, 40)
  } yield Vector.fill(n)(v)

  private val split: Gen[(Vector[Long], List[Int])] = for {
    vs <- Gen.listOf(run).map(_.flatten.toVector)
    k <- Gen.choose(0, 8)
    cuts <- Gen.listOfN(k, Gen.choose(0, vs.size))
  } yield (vs, cuts.sorted)

  private def exact(vs: Seq[Long]): String =
    s"${vs.size}:${vs.map(BigInt(_)).sum}"

  private def folded(vs: Vector[Long], cuts: List[Int]): String = {
    val bounds = (0 :: cuts) :+ vs.size
    SparkTableLoader.combineDigest(bounds.zip(bounds.tail).map {
      case (a, b) => SparkTableLoader.foldDigest(vs.slice(a, b).iterator)
    })
  }

  test("property: fold + combine equals the exact count and sum for " +
      "any 60-bit values split at any partition boundaries") {
    val prop = Prop.forAll(split) { case (vs, cuts) =>
      folded(vs, cuts) == exact(vs)
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status)
  }

  test("one partition of 1000 × (2^60 − 1) sums exactly; no rows is 0:0") {
    val maxes = Vector.fill(1000)(Max60)
    assert(folded(maxes, Nil) == exact(maxes))
    assert(BigInt(folded(maxes, Nil).split(':')(1)) > Long.MaxValue)
    assert(SparkTableLoader.combineDigest(Nil) == "0:0")
    assert(folded(Vector.empty, List(0, 0)) == "0:0")
  }
}
