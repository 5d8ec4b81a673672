package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-rehearsal data generator: tiles an existing sf directory
  * `copies`× into a new directory with consistent key spaces, so the
  * composite queries can be measured one notch past the driver's
  * largest SF (VERDICT r9 item 8: "nothing has been measured past
  * sf0.1"). NOT a replacement for the driver's generator — sf1 here
  * means "sf0.1 shape at 10× rows", used only for scaling RATIOS.
  *
  * Faithfulness choices (copy 0 is byte-identical to the source):
  *  - fact/dim keys offset per copy (custkey += i·maxC, orderkey +=
  *    i·maxO, …) so FK joins land exactly as in the source — each
  *    copy is an isomorphic subgraph and the join/graph queries scale
  *    by pure data volume, not by artificial key collisions;
  *  - document TEXT is word-shuffled per copy (deterministic
  *    xxhash64(word, copy, doc) sort) AND ~20% of tokens are
  *    hash-rewritten with a copy tag: the shuffle decorrelates
  *    order-sensitive features (3-gram shingles, winnowing), the
  *    rewrite decorrelates the token MULTISET itself (SimHash votes
  *    over the bag, so a pure shuffle would mint `copies−1` identical
  *    fingerprints per doc) — near-dup pair counts then scale like a
  *    real corpus under every dedup family;
  *  - EMBEDDINGS get a per-copy dimension permutation: an isometry
  *    (all intra-copy distances/cosines exactly preserved) whose
  *    cross-copy cosines decorrelate — neighborhoods scale, ANN
  *    recall semantics don't collapse into duplicate clusters;
  *  - events offset event_id/user_id, timestamps unchanged (each
  *    copy's users session independently).
  *
  * Usage: GenScale <srcDir> <dstDir> <copies> [tables=a,b,c]
  *
  * The optional `tables=` arg restricts TILING to the named tables;
  * the rest copy verbatim (copy 0 only). This is the single-axis
  * scale probe (VERDICT r13 item 5): tiling just the relational side
  * (`tables=customer,supplier,part,orders,lineitem,events` keeps the
  * FK offsets closed over exactly the tiled tables) pushes lineitem
  * to the fourth decade without paying the document-rewrite and
  * embedding-permutation cost of the text/vector side.
  */
object GenScale {
  def main(args: Array[String]): Unit = {
    val (src, dst, copies) = (args(0), args(1), args(2).toInt)
    require(copies >= 1)
    val only: Option[Set[String]] = args.drop(3).collectFirst {
      case a if a.startsWith("tables=") =>
        a.stripPrefix("tables=").split(',').map(_.trim).toSet
    }
    // typo guard: an unknown tables= entry would silently fall into
    // the copy-verbatim branch — the probe then reports scale numbers
    // for a table that was never tiled
    val knownTables = Set("region", "nation", "customer", "supplier",
      "part", "orders", "lineitem", "events", "documents", "embeddings")
    only.foreach { t =>
      val unknown = t -- knownTables
      require(unknown.isEmpty,
        s"unknown tables= entries: ${unknown.mkString(",")} " +
          s"(known: ${knownTables.toSeq.sorted.mkString(",")})")
    }
    // FK closure guard: a tiled fact whose dimension is NOT tiled
    // would mint offset keys pointing at nothing (silent join-row
    // loss measuring the data bug, not the engine)
    only.foreach { t =>
      val needs = Map(
        "lineitem" -> Set("orders", "part", "supplier"),
        "orders" -> Set("customer"))
      needs.foreach { case (fact, dims) =>
        if (t(fact)) require(dims.subsetOf(t),
          s"tables= includes $fact but not all of ${dims.mkString(",")} — " +
            "offset FKs would dangle")
      }
    }
    // overwrite-writes read LAZILY from src: dst == src would delete
    // the very files the scan is reading (irreversible source loss);
    // and the driver's testdata is read-only by contract
    require(new java.io.File(dst).getCanonicalPath !=
      new java.io.File(src).getCanonicalPath,
      "GenScale: dst must differ from src (overwrite would destroy the source)")
    require(!new java.io.File(dst).getCanonicalPath
      .startsWith("/root/testdata"),
      "GenScale: /root/testdata is read-only — write elsewhere")
    val spark = graft.Session.builder("graft-genscale").getOrCreate()
    new java.io.File(dst).mkdirs()

    def read(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")
    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[genscale] $name: ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
    }
    def tiled(name: String)(f: (DataFrame, Int) => DataFrame): Unit =
      if (only.exists(!_(name))) write(name, read(name)) // verbatim copy
      else write(name, (0 until copies).map(i => f(read(name), i))
        .reduce(_ unionByName _))

    // key spans (max+1) of the source, so offsets can never collide.
    // Explicit long cast (an IntegerType key would ClassCastException
    // on getLong) and a null guard (max over an empty table is NULL →
    // NPE with no hint of which table) — both with actionable errors.
    def span(name: String, key: String): Long = {
      val row = read(name).agg(max(col(key).cast("long"))).head()
      require(!row.isNullAt(0),
        s"[genscale] $name.$key has no rows — cannot derive a key span")
      row.getLong(0) + 1L
    }

    val (cSpan, sSpan, pSpan) =
      (span("customer", "c_custkey"), span("supplier", "s_suppkey"),
        span("part", "p_partkey"))
    val oSpan = span("orders", "o_orderkey")
    val (dSpan, vSpan) = (span("documents", "doc_id"),
      span("embeddings", "vec_id"))
    val (eSpan, uSpan) = (span("events", "event_id"),
      span("events", "user_id"))

    // dimension tables tile with offset keys; region/nation stay as-is
    // (the 25-nation world is the schema, not the volume)
    write("region", read("region"))
    write("nation", read("nation"))
    tiled("customer")((df, i) => df
      .withColumn("c_custkey", col("c_custkey") + lit(i * cSpan)))
    tiled("supplier")((df, i) => df
      .withColumn("s_suppkey", col("s_suppkey") + lit(i * sSpan)))
    tiled("part")((df, i) => df
      .withColumn("p_partkey", col("p_partkey") + lit(i * pSpan)))
    tiled("orders")((df, i) => df
      .withColumn("o_orderkey", col("o_orderkey") + lit(i * oSpan))
      .withColumn("o_custkey", col("o_custkey") + lit(i * cSpan)))
    tiled("lineitem")((df, i) => df
      .withColumn("l_orderkey", col("l_orderkey") + lit(i * oSpan))
      .withColumn("l_partkey", col("l_partkey") + lit(i * pSpan))
      .withColumn("l_suppkey", col("l_suppkey") + lit(i * sSpan)))
    tiled("events")((df, i) => df
      .withColumn("event_id", col("event_id") + lit(i * eSpan))
      .withColumn("user_id", col("user_id") + lit(i * uSpan)))

    // documents: copy 0 verbatim; copies 1.. word-shuffle the text
    // (deterministic hash sort) and recompute n_chars
    tiled("documents") { (df, i) =>
      val base = df.withColumn("doc_id", col("doc_id") + lit(i * dSpan))
      if (i == 0) base
      else base
        // word-shuffle decorrelates ORDER-sensitive features (3-gram
        // shingles, winnowing) — but SimHash votes over the token
        // MULTISET, which a pure shuffle preserves exactly: round-11's
        // sf1 run showed every copy carrying an identical simhash (9
        // minted twins per doc → quadratic bucket blowup measuring the
        // DATA, not the algorithm). So each copy also REWRITES a
        // deterministic ~20% of tokens (hash-selected, copy-tagged),
        // decorrelating the token bag itself the way a real 10× corpus
        // grows: mostly-new text, not replicas.
        .withColumn("text", array_join(
          transform(
            array_sort(transform(split(col("text"), " "), w =>
              struct(xxhash64(w, lit(i), col("doc_id")).as("h"),
                w.as("w")))),
            s => when(pmod(s.getField("h"), lit(5)) === lit(0),
              concat(s.getField("w"), lit("~" + i)))
              .otherwise(s.getField("w"))), " "))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }

    // embeddings: copy 0 verbatim; copies 1.. apply a per-copy fixed
    // dimension permutation (seeded) — an exact isometry per copy
    val dims = read("embeddings")
      .select(size(col("embedding"))).head().getInt(0)
    tiled("embeddings") { (df, i) =>
      val base = df.withColumn("vec_id", col("vec_id") + lit(i * vSpan))
      if (i == 0) base
      else {
        val perm = new scala.util.Random(1000L + i)
          .shuffle((0 until dims).toVector)
        base.withColumn("embedding",
          array(perm.map(j => col("embedding").getItem(j)): _*))
      }
    }

    spark.stop()
  }
}
