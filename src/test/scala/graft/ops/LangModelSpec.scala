package graft.ops

import graft.SparkTestBase
import graft.core.Pins
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[LangModel.bigramScore]], the RDD kernel, against the DataFrame
  * form it replaced, kept verbatim in [[LangModelReference]]: row for
  * row, `lm_score` by its raw bits, at widths 1, 3 and 7. Plus its job
  * counts, a read after its pins are released, and the id types it
  * rejects.
  */
class LangModelSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private val Widths = Seq(1, 3, 7)

  private def cells(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    }).sortBy(_.mkString("\u0001"))

  // a null id (twice), duplicate ids, a null text, one-token docs, an
  // empty text, double and leading/trailing spaces (empty tokens)
  private val fixedTexts: Seq[(Option[Long], String)] = Seq(
    Some(1L) -> "the cat sat on the mat",
    Some(2L) -> "the cat sat",
    Some(2L) -> "on the  mat",
    Some(3L) -> "mat",
    Some(4L) -> null,
    Some(5L) -> "",
    Some(6L) -> "  the cat ",
    Some(7L) -> "qq rr ss qq rr",
    None -> "the dog sat",
    None -> "sat  on",
    Some(8L) -> "the the the the")

  // random docs over a small vocabulary with empty tokens, repeats,
  // short docs, null texts and a few null and duplicate ids
  private def randomTexts(seed: Int, docs: Int): Seq[(Option[Long], String)] = {
    val rng = new scala.util.Random(seed)
    (0 until docs).map { d =>
      val id = if (rng.nextInt(12) == 0) None else Some(100L + rng.nextInt(docs - 5))
      id -> (if (rng.nextInt(20) == 0) null
        else Seq.fill(rng.nextInt(12))(if (rng.nextInt(9) == 0) "" else s"w${rng.nextInt(7)}")
          .mkString(" "))
    }
  }

  private def longDocs(texts: Seq[(Option[Long], String)]): DataFrame = {
    import spark.implicits._
    texts.map { case (id, t) => (id.map(java.lang.Long.valueOf).orNull, t) }
      .toDF("doc_id", "text")
  }

  private def stringDocs(texts: Seq[(Option[Long], String)]): DataFrame = {
    import spark.implicits._
    texts.map { case (id, t) => (id.map(i => "" + (1000 - i)).orNull, t) }
      .toDF("doc_id", "text")
  }

  private val corpora: Seq[(String, DataFrame)] = Seq(
    "fixed long ids" -> longDocs(fixedTexts),
    "fixed string ids" -> stringDocs(fixedTexts),
    "random long ids" -> longDocs(randomTexts(3, 80)),
    "random string ids" -> stringDocs(randomTexts(4, 80)))

  test("bigramScore equals its DataFrame form at widths 1, 3 and 7") {
    for ((name, docs) <- corpora) {
      val ref = LangModelReference.bigramScore(docs, "doc_id", "text")
      val want = Pins.scoped(cells(ref))
      assert(want.size > 5, name)
      for (w <- Widths) SparkTestBase.atWidth(w) {
        val got = Pins.scoped {
          val lm = LangModel.bigramScore(docs, "doc_id", "text")
          assert(lm.schema.map(f => f.name -> f.dataType) ==
            ref.schema.map(f => f.name -> f.dataType), s"$name, width $w")
          cells(lm)
        }
        assert(got == want, s"$name, width $w")
      }
    }
    // the fixture's null id groups its two docs: "the dog sat", "sat  on"
    val nullRow = Pins.scoped(LangModel.bigramScore(longDocs(fixedTexts), "doc_id", "text")
      .filter(col("id").isNull).collect())
    assert(nullRow.map(_.getLong(1)).toSeq == Seq(4L))
  }

  private def jobs[T](f: => T): (T, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    val sc = spark.sparkContext
    org.apache.spark.sql.graft.bridge.drainListenerBus(spark)
    sc.addSparkListener(l)
    try {
      val out = f
      org.apache.spark.sql.graft.bridge.drainListenerBus(spark)
      (out, n.get())
    } finally sc.removeSparkListener(l)
  }

  test("bigramScore builds in one job and is collected in one more") {
    for (w <- Widths) SparkTestBase.atWidth(w) {
      Pins.scoped {
        val (lm, built) = jobs(LangModel.bigramScore(longDocs(randomTexts(5, 60)),
          "doc_id", "text"))
        val (_, collected) = jobs(lm.collect())
        assert((built, collected) == ((1, 1)), s"width $w")
      }
    }
  }

  test("a result read after its Pins scope ends recomputes the same rows") {
    val docs = longDocs(randomTexts(6, 60))
    val (lm, inScope) = Pins.scoped {
      val lm = LangModel.bigramScore(docs, "doc_id", "text")
      (lm, cells(lm))
    }
    assert(inScope.nonEmpty)
    assert(cells(lm) == inScope)
  }

  test("an id type grouping keys cannot take is rejected, naming the type") {
    import spark.implicits._
    val texts = Seq("a b c", "b c d")
    val bad = Seq(
      "BinaryType" -> texts.map(t => (t.getBytes("UTF-8"), t)).toDF("doc_id", "text"),
      "ArrayType" -> texts.map(t => (Seq(t.length), t)).toDF("doc_id", "text"),
      "StructType" -> texts.map(t => ((t.length, t), t)).toDF("doc_id", "text"))
    for ((dt, docs) <- bad) {
      val e = intercept[IllegalArgumentException](Pins.scoped(
        LangModel.bigramScore(docs, "doc_id", "text")))
      assert(e.getMessage.contains(dt), e.getMessage)
    }
  }
}

/** The DataFrame form [[LangModel.bigramScore]] replaced, verbatim:
  * bigram and unigram count tables, a `countDistinct` scalar subquery
  * for V, two equi-joins of the documents' bigrams against the counts
  * and a group-by on id.
  */
object LangModelReference {

  /** Add-one-smoothed bigram MLE score per document:
    * score(d) = (1/|bg(d)|) · Σ ln((c(w1,w2) + 1) / (c(w1) + V)).
    * Returns (id, n_bg, lm_score) — higher = more fluent under the
    * corpus model. Raw-string grams (cheap CPU; the joins dominate).
    */
  def bigramScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    // index-first explode, gram built codegen'd after (Dedup.shingles
    // has the why); w1 comes straight off the token array — no
    // re-split of the gram at join time
    val docBg = docs.select(col(idCol).as("id"), toks.as("toks"))
      .select(col("id"), col("toks"),
        explode(when(size(col("toks")) >= 2,
            sequence(lit(1), size(col("toks")) - 1))
          .otherwise(array().cast("array<int>"))).as("i"))
      .select(col("id"), element_at(col("toks"), col("i")).as("w1"),
        concat_ws(" ", element_at(col("toks"), col("i")),
          element_at(col("toks"), col("i") + lit(1))).as("bg"))
    val tok = docs.select(explode(toks).as("tok"))
    val c2 = docBg.groupBy(col("bg")).agg(count(lit(1)).as("c2"))
    val c1 = tok.groupBy(col("tok")).agg(count(lit(1)).as("c1"))
      .select(col("tok").as("w1"), col("c1"))
    val v = tok.agg(countDistinct(col("tok")).as("v"))
    docBg
      .join(c2, Seq("bg"))
      .join(c1, Seq("w1"))
      .withColumn("v", v.scalar())
      .select(col("id"),
        log((col("c2").cast("double") + lit(1.0)) /
          (col("c1").cast("double") + col("v").cast("double"))).as("lp"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bg"),
        round(sum(col("lp")) / count(lit(1)).cast("double"), 6).as("lm_score"))
  }
}
