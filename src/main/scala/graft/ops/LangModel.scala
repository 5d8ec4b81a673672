package graft.ops

import graft.core.{ByFirst, CarryScan, ExactSum, Key}
import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Corpus-level n-gram language-model scoring — the CCNet-style
  * quality filter: score every document by its average bigram
  * log-probability under a model fitted on the corpus itself, then
  * drop the tail (web text that no fluent model explains).
  *
  * The model is a table of gram counts, and it is never collected: at
  * corpus scale it is billions of grams across executors, and a
  * driver-side dictionary would die. [[bigramScore]] is a co-partitioned
  * RDD kernel on one [[ByFirst]] partitioner, which places a gram by
  * its first word, so c(w) and every c(w, ·) share a partition:
  *
  *  - Counts, one eager job: every token `w` and every adjacent pair
  *    `(w1, w2)`, summed by a map-side-combined `reduceByKey` and
  *    pinned through a [[CarryScan]], whose `partials` job also returns
  *    each partition's number of unigram keys. Their sum is V, the
  *    distinct tokens.
  *  - Occurrences, lazy: each document's bigram multiplicities
  *    (w1, w2) → (id, m), shuffled on the same partitioner.
  *  - Join: a task zips its partition's counts with its occurrences.
  *    It holds the counts as a hash map, the build side of a hash
  *    join, and streams the occurrences through it.
  *  - Score: one map-side-combined shuffle by id that adds each
  *    group's m · ln((c2 + 1) / (c1 + V)) to its id's
  *    [[ExactSum.Partial]], so the score does not depend on the width
  *    or on how the rows are spread.
  *
  * A task holds its partition's counts and its ids' partial sums;
  * everything else streams, or spills in Spark's shuffle sorter. As
  * DataFrames the same dataflow was two count group-bys, a
  * `countDistinct` scalar subquery for V, two shuffle joins and a
  * group-by on id: seven exchanges, and under AQE one job each. Here
  * the counts are one job and the scoring is one more per consumer.
  * V and the counts depend only on the data, so a read after the pin's
  * scope recomputes the same rows.
  */
object LangModel {

  /** Add-one-smoothed bigram MLE score per document:
    * score(d) = (1/|bg(d)|) · Σ ln((c(w1,w2) + 1) / (c(w1) + V)).
    * Returns (id, n_bg, lm_score) — higher = more fluent under the
    * corpus model. Tokens are [[TextAnalysis.tokens]] (empty tokens
    * from double spaces count; a null text has none). Documents with
    * fewer than two tokens are absent; a null id and duplicate ids
    * group as `groupBy` groups them. Ids must be a type [[Key]] takes.
    * The log is `StrictMath.log`, the one Spark's `log` calls, and
    * `lm_score` is rounded to 6 dp by Spark's `round`.
    */
  def bigramScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    val rows = docs.select(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("toks"))
    val idType = rows.schema("id").dataType
    val key = Key(idType)
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val part = ByFirst(width)
    // one document: its id and its tokens (none for a null text)
    val parsed = rows.queryExecution.toRdd.map { r =>
      val toks = if (r.isNullAt(1)) Array.empty[UTF8String] else {
        val a = r.getArray(1)
        Array.tabulate(a.numElements())(a.getUTF8String(_).clone())
      }
      (key.read(r, 0), toks)
    }
    // gram → count; a unigram is (w, null)
    val counts = new CarryScan(parsed.flatMap { case (_, t) =>
      t.iterator.map(w => (w, null: UTF8String) -> 1L) ++
        t.indices.drop(1).iterator.map(i => (t(i - 1), t(i)) -> 1L)
    }.reduceByKey(part, _ + _))
    val v = counts.partials(_.foldLeft(0L)((u, g) => if (g._1._2 == null) u + 1 else u)).sum
    val occurrences = parsed.flatMap { case (id, t) =>
      val m = new java.util.HashMap[(UTF8String, UTF8String), java.lang.Long]()
      t.indices.drop(1).foreach(i => m.merge((t(i - 1), t(i)), 1L, (a, b) => a + b))
      val out = Iterator.newBuilder[((UTF8String, UTF8String), (Any, Long))]
      m.forEach((bg, n) => out += bg -> (id, n.longValue))
      out.result()
    }.partitionBy(part)
    // each partition's counts as one hash map, seeded with V and
    // zipped with the occurrences of the same first words
    val models = counts.seeded(Array.fill(width)(v.toDouble)) { (v, cs) =>
      val c = new java.util.HashMap[(UTF8String, UTF8String), java.lang.Long]()
      cs.foreach { case (g, n) => c.put(g, n) }
      Iterator.single(v -> c)
    }
    val out = models.zipPartitions(occurrences) { (ms, os) =>
      val (v, c) = ms.next()
      os.map { case (bg @ (w1, _), (id, m)) =>
        val lp = StrictMath.log((c.get(bg).doubleValue + 1.0) / (c.get((w1, null)).doubleValue + v))
        id -> (lp, m)
      }
    }.combineByKey[(ExactSum.Partial, Long)](
      { case (lp, m) => (new ExactSum.Partial().add(lp, m), m) },
      (acc, x) => (acc._1.add(x._1, x._2), acc._2 + x._2),
      (a, b) => (a._1.merge(b._1), a._2 + b._2),
      new HashPartitioner(width))
      .map { case (id, (sum, n)) => Row(key.external(id), n, sum.value) }
    spark.createDataFrame(out,
        StructType(Seq(StructField("id", idType), StructField("n_bg", LongType, nullable = false),
          StructField("lp", DoubleType, nullable = false))))
      .select(col("id"), col("n_bg"),
        round(col("lp") / col("n_bg").cast("double"), 6).as("lm_score"))
  }
}
