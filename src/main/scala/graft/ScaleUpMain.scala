package graft

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Synthetic scale-up generator: writes an N× copy of a TESTDATA.md
  * scale-factor directory for local scale validation (e.g. sf0.1 × 10 →
  * "sf1"), preserving every join relationship the catalog exercises.
  *
  * TESTDATA.md forbids touching `/root/testdata`, so the output goes to a
  * caller-chosen scratch dir; this is measurement tooling, not test-data
  * authorship — the driver's generator stays the source of truth.
  *
  * Replication strategy (replica 0 is the untouched original):
  *  - Fixed dimensions (`region`, `nation`) are copied verbatim — they do
  *    not scale in a star schema.
  *  - Every scaling table is unioned N times with its keys offset by
  *    `i * (max(key)+1)` per key-space, so foreign keys stay aligned
  *    WITHIN a replica and never collide across replicas (orders→customer,
  *    lineitem→orders/part/supplier, events.user_id→customer).
  *  - `documents.text` is passed through a per-replica alphabet
  *    permutation (`translate`) — length-preserving (so `n_chars` stays
  *    consistent) but shingle-destroying, so replicas are NOT planted
  *    near-duplicates and dedup/LSH workloads keep realistic candidate
  *    densities instead of every doc carrying N−1 synthetic twins.
  *  - `embeddings.embedding` is component-rotated per replica —
  *    norm-preserving, but cosine across replicas decorrelates, for the
  *    same reason.
  *  - `events.ts` is rewritten as raw INT64 nanos in the same time window
  *    (N× density, unchanged span) — exactly what `queries.tbl` and
  *    `StreamOps.eventsStream` read; watermark/window semantics scale
  *    without shifting.
  *
  * ZIPF-SKEW MODE (`args(3) == "zipf"`): uniform replication never grows
  * key skew with scale (every replica's key-space is disjoint), so the
  * uniform ladder cannot exercise AQE skew-split or salting — the one
  * 100 TB failure mode a 1000-executor cluster WILL hit (one hot
  * customer, one viral content id). In skew mode, replicas i > 0 reroute
  * an `alphaPct`% deterministic sample of each scaling table's FOREIGN
  * keys onto `hotK` replica-0 hot keys (primary keys keep their offsets,
  * so row counts and key-space sizes are unchanged):
  *  - `lineitem.l_orderkey` → hotK original order keys (the skewed
  *    fact-fact join input),
  *  - `orders.o_custkey` and `events.user_id` → hotK original customers,
  *  - `embeddings.label` → the corpus's hottest label (inflates the
  *    label-blocked pair join super-linearly — the documented quadratic
  *    family under its worst case).
  * Hot share ≈ alphaPct·(factor−1)/factor of each table concentrates on
  * hotK keys, i.e. a hot key carries ~alphaPct/hotK of ALL rows — orders
  * of magnitude past any mean-frequency multiple, which is exactly the
  * regime `q_skew_profile` flags and `q_join_skew_salted` mitigates.
  * Every reroute lands on a key that exists in replica 0, so referential
  * integrity — and therefore every DuckDB oracle — holds on the skewed
  * corpus unchanged.
  */
object ScaleUpMain {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val skewMode = args.length > 3 && args(3) == "zipf"
    val alphaPct = if (args.length > 4) args(4).toInt else 25
    val hotK = if (args.length > 5) args(5).toInt else 4
    require(!skewMode || (alphaPct >= 1 && alphaPct <= 90 && hotK >= 1),
      s"zipf mode needs alphaPct in [1,90] and hotK >= 1: $alphaPct/$hotK")
    val spark = SparkEntry.localSession(32)

    def write(name: String, df: DataFrame, files: Int): Unit = {
      df.coalesce(files).write.mode(SaveMode.Overwrite)
        .parquet(s"$out/$name.parquet")
      println(s"[scaleup] wrote $name x$factor")
    }
    /** Union `factor` key-offset replicas. `keys` maps column → stride
      * (max+1 of its key-space); `tweak` decorrelates payload columns. */
    def rep(df: DataFrame, keys: Map[String, Long],
            tweak: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until factor).map { i =>
        val offset = keys.foldLeft(df) { case (d, (k, stride)) =>
          d.withColumn(k, col(k) + lit(stride * i))
        }
        tweak(offset, i)
      }.reduce(_ unionByName _)
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(key)).head().getLong(0) + 1L

    /** The hotK smallest replica-0 keys — guaranteed to exist in every
      * skewed output because replica 0 is written verbatim. */
    def hotLongs(df: DataFrame, key: String): Seq[Long] =
      df.select(col(key)).distinct().orderBy(col(key)).limit(hotK)
        .collect().map(_.getLong(0)).toSeq

    /** Zipf reroute: for replicas i > 0, send an alphaPct% deterministic
      * sample of `fk` onto the hot keys (uniformly across them). `seed`
      * must be a per-row-stable column (the offset primary key) so the
      * sample is reproducible run-to-run. Replica 0 and non-skew runs
      * pass through untouched. */
    def zipfReroute(d: DataFrame, i: Int, fk: String, seed: Column,
        hot: Seq[Long]): DataFrame =
      if (!skewMode || i == 0) d
      else d.withColumn(fk,
        when(pmod(xxhash64(seed, lit(i)), lit(100)) < lit(alphaPct),
          element_at(typedLit(hot),
            (pmod(xxhash64(seed, lit(i + 7919)), lit(hot.size)) + 1).cast("int")))
          .otherwise(col(fk)))

    val customer = spark.read.parquet(s"$src/customer.parquet")
    val supplier = spark.read.parquet(s"$src/supplier.parquet")
    val part = spark.read.parquet(s"$src/part.parquet")
    val orders = spark.read.parquet(s"$src/orders.parquet")
    val lineitem = spark.read.parquet(s"$src/lineitem.parquet")
    val documents = spark.read.parquet(s"$src/documents.parquet")
    val embeddings = spark.read.parquet(s"$src/embeddings.parquet")
    // events.ts: normalized to raw epoch-nanos LongType whatever layout
    // the source carries (the catalog's own read chokepoint), written back
    // as plain INT64 nanos — the contract local_verify.py's oracle shim
    // and the stream staging depend on
    val events = graft.io.Sources.eventsRawNanos(spark, s"$src/events.parquet")

    val (custS, suppS, partS) =
      (stride(customer, "c_custkey"), stride(supplier, "s_suppkey"),
        stride(part, "p_partkey"))
    val (ordS, evS, docS, vecS) =
      (stride(orders, "o_orderkey"), stride(events, "event_id"),
        stride(documents, "doc_id"), stride(embeddings, "vec_id"))

    // fixed dims: verbatim copy
    write("region", spark.read.parquet(s"$src/region.parquet"), 1)
    write("nation", spark.read.parquet(s"$src/nation.parquet"), 1)

    val hotCust = if (skewMode) hotLongs(customer, "c_custkey") else Nil
    val hotOrd = if (skewMode) hotLongs(orders, "o_orderkey") else Nil
    if (skewMode) println(s"[scaleup] zipf mode: alpha=$alphaPct% " +
      s"hotK=$hotK hotCust=$hotCust hotOrd=$hotOrd")

    write("customer", rep(customer, Map("c_custkey" -> custS)), 2)
    write("supplier", rep(supplier, Map("s_suppkey" -> suppS)), 1)
    write("part", rep(part, Map("p_partkey" -> partS)), 2)
    write("orders", rep(orders, Map(
      "o_orderkey" -> ordS, "o_custkey" -> custS),
      (d, i) => zipfReroute(d, i, "o_custkey", col("o_orderkey"), hotCust)), 8)
    write("lineitem", rep(lineitem, Map(
      "l_orderkey" -> ordS, "l_partkey" -> partS, "l_suppkey" -> suppS),
      (d, i) => zipfReroute(d, i, "l_orderkey",
        xxhash64(col("l_orderkey"), col("l_linenumber")), hotOrd)), 16)
    // user_id lives in the c_custkey key-space (stream-static join)
    write("events", rep(events, Map(
      "event_id" -> evS, "user_id" -> custS),
      (d, i) => zipfReroute(d, i, "user_id", col("event_id"), hotCust)), 8)

    // per-replica alphabet permutation — must be INJECTIVE over replica
    // index, not merely non-identity: any two replicas sharing a
    // permutation carry byte-identical text (the same transform of the
    // same base), planting exact cross-replica duplicates that skew
    // dedup/LSH candidate density. A pure rotation has only 25 non-
    // identity values, so shifts collide every 25 replicas no matter the
    // stride. An AFFINE map j -> (s*j + t) mod 26 over letter positions,
    // with s a unit mod 26 (12 choices) and t a shift (26 choices),
    // yields 312 distinct permutations: i -> (s, t) = (S[i/26 mod 12],
    // i mod 26) is injective for i < 312, asserted below. Replica 0 maps
    // to (1, 0) = identity — it IS the original corpus.
    val affineS = Array(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
    require(factor <= 312,
      s"text permutation supports at most 312 distinct replicas, got $factor")
    val lower = "abcdefghijklmnopqrstuvwxyz"
    def affine(s: Int, t: Int): String =
      (0 until 26).map(j => ('a' + (s * j + t) % 26).toChar).mkString
    write("documents", rep(documents, Map("doc_id" -> docS),
      (d, i) =>
        if (i == 0) d
        else {
          val perm = affine(affineS((i / 26) % 12), i % 26)
          d.withColumn("text", translate(col("text"),
            lower + lower.toUpperCase,
            perm + perm.toUpperCase))
        }), 4)

    // per-replica component rotation: norm-preserving, cross-replica
    // cosine decorrelated — and, like the text permutation, INJECTIVE
    // over replica index. Rotations alone give only dim-1 distinct
    // non-identity values (and a strided shift like 7*i % 63 is worse:
    // gcd(7, 63) = 7 leaves just 9 distinct shifts, colliding at
    // factor 11). Pair k = 1 + (i-1) % (dim-1) with a full negation on
    // every second wrap of the rotation cycle: (k, sign) is injective
    // for i <= 2*(dim-1), i.e. factor <= 127 at dim 64. Negation is
    // norm-preserving and flips cosine sign, so threshold/top-k
    // semantics stay realistic (no planted near-1 correlations).
    val dim = embeddings.select(size(col("embedding"))).head().getInt(0)
    require(factor <= 2 * (dim - 1) + 1,
      s"embedding permutation supports at most ${2 * (dim - 1) + 1} " +
        s"distinct replicas at dim $dim, got $factor")
    // skew target for the label-blocked pair join: the corpus's hottest
    // label (label is INT, not a long key-space — reroute is a literal)
    val hotLabel: Int = if (!skewMode) 0 else
      embeddings.groupBy("label").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("label")).head().getInt(0)
    write("embeddings", rep(embeddings, Map("vec_id" -> vecS),
      (d, i) => {
        if (i == 0) d
        else {
          val k = 1 + (i - 1) % (dim - 1)
          val negate = ((i - 1) / (dim - 1)) % 2 == 1
          val rotated = concat(slice(col("embedding"), k + 1, dim - k),
            slice(col("embedding"), 1, k))
          val rot = d.withColumn("embedding",
            if (negate) transform(rotated, x => -x) else rotated)
          if (!skewMode) rot
          else rot.withColumn("label",
            when(pmod(xxhash64(col("vec_id"), lit(i)), lit(100)) < lit(alphaPct),
              lit(hotLabel)).otherwise(col("label")))
        }
      }), 4)

    spark.stop()
  }
}
