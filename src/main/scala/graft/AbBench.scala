package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Interleaved same-JVM A/B benchmark — the ONLY perf-comparison
  * methodology that works on this box. Single-shot suite snapshots
  * (BENCH_r*.json) swing ±25-50% run-to-run here (documented in
  * BASELINE.md): untouched queries have inflated up to 2.5× between
  * rounds, and two back-to-back full runs of identical code differed
  * by 9%. Alternating the two contenders inside one JVM cancels the
  * shared drift (JIT state, page cache, cgroup throttling) because
  * every A run has a B run as its contemporary; the per-round WIN
  * COUNT and the paired medians are then readable where cross-round
  * absolute seconds are not.
  *
  * Usage: `runMain graft.AbBench <queryA> <queryB> [rounds=5]`
  * where each name is either a registered [[SparkEntry.queries]] entry
  * or one of [[AbBench.variants]] — superseded plan shapes preserved
  * here verbatim (bench-only, never registered) so the A/B rows in
  * BASELINE.md reproduce with one command:
  *
  *   runMain graft.AbBench v49_neardup_xxh64 v49_cap_countjoin
  *   runMain graft.AbBench q124_pq_codes      v124_pq_hof
  *
  * Protocol: one UNTIMED warm run of each side (codegen compilation and
  * parquet footer caches are not what's under test), then `rounds`
  * alternating timed pairs with [[Bench]]'s exact evaluation discipline
  * — noop-format write (every output column fully evaluated; a count()
  * would let Catalyst prune the projections under test), cache clear +
  * persistent-RDD unpersist + System.gc() between runs, OUTSIDE the
  * timed window. Emits one `BENCH_AB` JSON line with per-round seconds,
  * medians, and win counts.
  */
object AbBench {

  /** Pre-rewrite bucket cap (NearDup.capBuckets before commit 96faff4):
    * a full count aggregate over the bucket table plus a broadcast
    * anti-join of the overfull keys — a second full-table exchange for
    * the count and a broadcast-job barrier on the critical path, which
    * the window-count rewrite eliminated by riding the self-join's own
    * bucket-key exchange.
    */
  private def capCountJoin(keyed: DataFrame, keyCols: Seq[String],
                           maxBucketSize: Int): DataFrame = {
    val over = keyed.groupBy(keyCols.map(col): _*).count()
      .filter(col("count") > maxBucketSize)
      .select(keyCols.map(col): _*)
    keyed.join(broadcast(over), keyCols, "left_anti")
  }

  /** q49's pipeline with the pre-rewrite cap, persist placement as it
    * was then: the UNCAPPED bucket table persisted, cap + self-join on
    * top (the count aggregate and both join sides each read the cache,
    * but the cap's exchange is not shared with the join).
    */
  private def nearDupPairsCountJoinCap(df: DataFrame, idCol: String,
                                       textCol: String, threshold: Double,
                                       k: Int, bands: Int): DataFrame = {
    val nd = graft.dedup.NearDup
    val sigs = nd.minhashSignatures(df, idCol, textCol, k, 3)
    val buckets = nd.lshBuckets(sigs, idCol, bands, k / bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val capped = capCountJoin(buckets, Seq("band_id", "band_hash"), 10000)
    val a = capped.select(col("band_id"), col("band_hash"), col(idCol).as("id1"))
    val b = capped.select(col("band_id"), col("band_hash"), col(idCol).as("id2"))
    val pairs = a.join(b.hint("shuffle_hash"), Seq("band_id", "band_hash"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
    val out = nd.jaccardVerify(pairs, df, idCol, textCol)
      .filter(col("jaccard") >= threshold)
      .localCheckpoint(true)
    buckets.unpersist()
    out
  }

  /** Pre-fusion PQ encode (Pq.pqEncode before commit 36fb538): the
    * m·k-subdistance literal HOF tree — `aggregate(zip_with(slice…))`
    * per centroid — that the fused native [[graft.functions.PqCodes]]
    * expression replaced (measured 66× on the 64k-vector corpus).
    * Same codes, same oracle semantics; only the plan differs.
    */
  private def pqEncodeHof(emb: DataFrame, idCol: String, vecCol: String,
                          codebook: Array[Array[Array[Double]]]): DataFrame = {
    val m = codebook.length
    val sub = codebook.head.head.length
    val vd = graft.sim.Similarity.toDouble(col(vecCol))
    def subDist(s: Int, cent: Array[Double]) =
      aggregate(
        zip_with(slice(vd, s * sub + 1, sub),
          array(cent.map(lit).toIndexedSeq: _*),
          (x, c) => (x - c) * (x - c)),
        lit(0.0), (acc, t) => acc + t)
    val codes = (0 until m).map { s =>
      val dists = array(codebook(s).map(c => subDist(s, c)).toIndexedSeq: _*)
      (array_position(dists, array_min(dists)) - 1).as(s"c$s")
    }
    emb.select(col(idCol), posexplode(array(codes: _*)))
      .select(col(idCol), col("pos").cast("long").as("sub"),
        col("col").as("code"))
  }

  /** q145's PageRank as first committed (6df2104): the edge table
    * cached on distinct's (src, dst) partitioning, so every iteration's
    * src-key join re-exchanges the whole |E|-sized edge list. The
    * repartition-by-src-before-persist rewrite pins the big side once;
    * only the |V|-sized rank vector moves per iteration.
    */
  private def pageRankUnpartitioned(edges: DataFrame, srcCol: String,
                                    dstCol: String, iters: Int,
                                    damping: Double): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val outd = e.groupBy("src").agg(count(lit(1)).as("od"))
    val nn = nodes.agg(count(lit(1)).as("nn"))
    var ranks = nodes.crossJoin(nn)
      .select(col("id"), (lit(1.0) / col("nn")).as("r"))
    var it = 0
    while (it < iters) {
      val contrib = e
        .join(ranks.withColumnRenamed("id", "src"), Seq("src"))
        .join(outd, Seq("src"))
        .groupBy(col("dst"))
        .agg(sum((col("r") / col("od"))
          .cast(org.apache.spark.sql.types.DecimalType(30, 15)))
          .cast("double").as("m"))
      ranks = nodes.crossJoin(nn)
        .join(contrib, col("id") === col("dst"), "left")
        .select(col("id"),
          ((lit(1.0) - lit(damping)) / col("nn")
            + lit(damping) * coalesce(col("m"), lit(0.0))).as("r"))
      it += 1
    }
    ranks.select(col("id"), round(col("r"), 9).as("rank"))
  }

  /** q162's LPA loop before the checkpoint-per-round rewrite: rounds
    * chained LAZILY, the final action re-planning the whole K-round
    * chain through K windows of AQE stages.
    */
  private def lpaLazyChain(edges: DataFrame, iters: Int): DataFrame = {
    val e0 = edges.select(col("x").as("src"), col("y").as("dst"))
    val sym = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("community", col("id"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("dst")
      .orderBy(col("n").desc, col("community").asc)
    for (_ <- 1 to iters) {
      labels = sym
        .join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .repartition(col("dst"))
        .groupBy(col("dst"), col("community"))
        .agg(count(lit(1)).as("n"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("dst").as("id"), col("community"))
    }
    val out = labels.localCheckpoint(true)
    sym.unpersist()
    out
  }

  /** q170's k-core loop before the checkpoint-per-round rewrite:
    * rounds chained lazily with persist markers that never materialize
    * before their parent unpersists — the final action re-derives all
    * rounds, and the degree union's DOUBLE reference to the surviving
    * edges fans the re-derivation out exponentially per round.
    */
  private def kcoreLazyRounds(edges: DataFrame, k: Int,
                              rounds: Int): DataFrame = {
    var surviving = edges
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    for (_ <- 1 to rounds) {
      val deg = surviving.select(col("a").as("id"))
        .union(surviving.select(col("b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("degree"))
      val keep = deg.filter(col("degree") >= k)
      val next = surviving
        .join(keep.select(col("id").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("id").as("b")), Seq("b"), "left_semi")
        .select("a", "b")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      surviving.unpersist()
      surviving = next
    }
    surviving.select(col("a").as("id"))
      .union(surviving.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
      .localCheckpoint(true)
  }

  /** Superseded baseline shapes, addressable by name next to the live
    * registry entries. Bench-only: never part of [[SparkEntry.queries]],
    * never oracled, kept solely so the A/B rows in BASELINE.md replay.
    */
  val variants: Map[String, (SparkSession, String) => DataFrame] = Map(
    "v170_lazy_rounds" -> ((s, d) => {
      val edges = graft.operators.MarketBasket.associationRules(
          Tables.t(s, d, "lineitem"), "l_orderkey", "l_partkey", 2)
        .filter(col("antecedent") < col("consequent"))
        .select(col("antecedent").as("x"), col("consequent").as("y"))
      kcoreLazyRounds(edges, 2, 3)
    }),
    "v162_lazy_chain" -> ((s, d) => {
      val edges = graft.operators.MarketBasket.associationRules(
          Tables.t(s, d, "lineitem"), "l_orderkey", "l_partkey", 2)
        .filter(col("antecedent") < col("consequent"))
        .select(col("antecedent").as("x"), col("consequent").as("y"))
      lpaLazyChain(edges, 3)
    }),
    "v145_unpartitioned" -> ((s, d) => {
      val li = Tables.t(s, d, "lineitem").select("l_orderkey", "l_partkey")
      val e = li.select(col("l_orderkey").as("k"), col("l_partkey").as("src"))
        .join(li.select(col("l_orderkey").as("k"), col("l_partkey").as("dst")),
          Seq("k"))
        .filter(col("src") =!= col("dst"))
      pageRankUnpartitioned(e, "src", "dst", 2, 0.85)
    }),
    // q49_near_dup_pairs as registered until r11, when this rows-only
    // XXH64 MinHash-LSH pipeline left the registry for its oracled
    // portable-hash twin q184: the current side of BASELINE.md's
    // v49_cap_countjoin row
    "v49_neardup_xxh64" -> ((s, d) => {
      val docs = Tables.t(s, d, "documents").select("doc_id", "text")
      val mutated = docs.select((col("doc_id") + 1000000L).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s", "").as("text"))
      graft.dedup.NearDup.nearDupPairs(docs.unionByName(mutated),
        "doc_id", "text", threshold = 0.5, k = 64, bands = 16)
    }),
    "v49_cap_countjoin" -> ((s, d) => {
      val docs = Tables.t(s, d, "documents").select("doc_id", "text")
      val mutated = docs.select((col("doc_id") + 1000000L).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s", "").as("text"))
      nearDupPairsCountJoinCap(docs.unionByName(mutated), "doc_id", "text",
        threshold = 0.5, k = 64, bands = 16)
    }),
    "v124_pq_hof" -> ((s, d) => {
      val emb = Tables.t(s, d, "embeddings").select("vec_id", "embedding")
      val cb = graft.sim.Pq.pqTrain(emb, "vec_id", "embedding", m = 8, k = 16)
      pqEncodeHof(emb, "vec_id", "embedding", cb)
    }))

  private def resolve(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.get(name).orElse(variants.get(name)).getOrElse {
      val known = (SparkEntry.queries.keys ++ variants.keys).toSeq.sorted
      sys.error(s"unknown query '$name'; known: ${known.mkString(", ")}")
    }

  private def runOnce(spark: SparkSession, sfDir: String,
                      fn: (SparkSession, String) => DataFrame): Double = {
    val t0 = System.nanoTime()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    val secs = (System.nanoTime() - t0) / 1e9
    // free blocks + force the ContextCleaner's GC outside the timed
    // window — same discipline as Bench, same rationale
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
    secs
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: runMain graft.AbBench <queryA> <queryB> [rounds=5]")
    val (nameA, nameB) = (args(0), args(1))
    val rounds = if (args.length > 2) args(2).toInt else 5
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Cores.local
    val (fa, fb) = (resolve(nameA), resolve(nameB))
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    runOnce(spark, sfDir, fa) // untimed warm-up: codegen compile,
    runOnce(spark, sfDir, fb) // parquet footers, scheduler spin-up
    val (as, bs) = (Array.ofDim[Double](rounds), Array.ofDim[Double](rounds))
    for (r <- 0 until rounds) {
      as(r) = runOnce(spark, sfDir, fa)
      bs(r) = runOnce(spark, sfDir, fb)
      System.err.println(f"[ab] round ${r + 1}/$rounds: $nameA ${as(r)}%.3f s  $nameB ${bs(r)}%.3f s")
    }
    val aWins = (0 until rounds).count(r => as(r) < bs(r))
    def dp3(v: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def arr(xs: Array[Double]) = xs.map(dp3).mkString("[", ",", "]")
    println(s"""BENCH_AB {"a":"$nameA","b":"$nameB","rounds":$rounds,""" +
      s""""a_secs":${arr(as)},"b_secs":${arr(bs)},""" +
      s""""a_median":${dp3(median(as.toSeq))},"b_median":${dp3(median(bs.toSeq))},""" +
      s""""a_wins":$aWins,"b_wins":${rounds - aWins},"sf":"$sfDir"}""")
    spark.stop()
  }
}
