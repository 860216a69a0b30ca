package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local session for all specs (one JVM-wide session — scalatest
  * suites run sequentially in the forked test JVM). */
object TestSpark {
  val cpus: Int = 4
  lazy val spark: SparkSession = {
    val s = GraftSession.build(cpus)
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpecBase extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = TestSpark.spark
  lazy val sf: String = TestSpark.sf

  /** Minimal property-check driver over scalacheck Gens with fixed seeds
    * (scalatestplus is not in the offline cache). Deterministic runs. */
  def forSamples[A](gen: org.scalacheck.Gen[A], n: Int = 15)(f: A => Unit): Unit =
    (1 to n).foreach { i =>
      val a = gen.pureApply(org.scalacheck.Gen.Parameters.default,
        org.scalacheck.rng.Seed(i.toLong * 7919L))
      withClue(s"[seed $i] input $a: ")(f(a))
    }
}
