package graft.core

import graft.SparkTestBase
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** [[CarryScan]] on a hand-partitioned RDD: ten letters over sixteen
  * slices, so six partitions are empty. String concatenation does not
  * commute, so a carry combined out of partition order shows.
  */
class CarryScanSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private val letters = ('a' to 'j').map(_.toString)
  private val slices = 16
  private def rdd = spark.sparkContext.parallelize(letters, slices)

  test("partials: one value per partition in partition order, empty ones included") {
    val r = rdd
    val want = r.glom().collect().map(_.mkString).toSeq
    val got = Pins.scoped(new CarryScan(r).partials(_.mkString)).toSeq
    assert(got.length == slices)
    assert(got.count(_.isEmpty) == slices - letters.length)
    assert(got == want)
    assert(got.mkString == letters.mkString)
  }

  test("left and right exclusive carries seed each partition as a sequential fold") {
    val got = Pins.scoped {
      val scan = new CarryScan(rdd)
      val parts = scan.partials(_.mkString)
      val left = parts.scanLeft("")(_ + _).init // everything before p
      val right = parts.scanRight("")(_ + _).tail // everything after p
      scan.seeded(left.zip(right)) { case ((l, r), it) =>
        val rows = it.toVector
        rows.indices.iterator.map(i =>
          (rows(i), l + rows.take(i).mkString, rows.drop(i + 1).mkString + r))
      }.collect().toSeq
    }
    val want = letters.indices.map(i =>
      (letters(i), letters.take(i).mkString, letters.drop(i + 1).mkString))
    assert(got == want)
  }

  test("seeded names both lengths when the carries do not fit") {
    val e = Pins.scoped {
      val scan = new CarryScan(rdd)
      intercept[IllegalArgumentException](scan.seeded(Array.fill(slices - 1)(0))((_, it) => it))
    }
    assert(e.getMessage.contains(s"${slices - 1} carries for $slices partitions"), e.getMessage)
  }

  test("the pin is released by the enclosing Pins.scoped") {
    val r = rdd
    Pins.scoped {
      new CarryScan(r).partials(_.size)
      assert(r.getStorageLevel != StorageLevel.NONE, "pinned inside the scope")
    }
    assert(r.getStorageLevel == StorageLevel.NONE, "released at scope exit")
  }

  test("nothing in src/main calls mapPartitionsWithIndex outside CarryScan") {
    val found = graft.SourceScan.find(
      Seq("mapPartitionsWithIndex"), except = "graft/core/CarryScan.scala")
    assert(found.isEmpty, s"per-partition carries that bypass CarryScan:\n${found.mkString("\n")}")
  }
}
