package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Approximate-nearest-neighbor / similarity search over the
  * `embeddings` table (`Array[Float]` column).
  *
  * Two paths, per the scale plan:
  *  - [[topK]] — brute-force cosine top-k, the exact baseline. The
  *    per-partition bounded-heap (mapPartitions) stage means each
  *    executor emits at most k rows per query before the (tiny) global
  *    top-k merge — no global sort of the full score set, which is the
  *    property that survives a 100 TB corpus.
  *  - [[annLsh]] — random-hyperplane LSH bucketing (sign bits of 8
  *    fixed pseudo-random directions) with hamming≤1 multiprobe: the
  *    candidate set per query is ~9 buckets instead of the corpus, the
  *    join is a bucket equi-join, and recall is traded for a ~n/256
  *    candidate reduction. VectorSpec measures recall against [[topK]].
  *
  * Dot products use the native codegen'd
  * [[org.apache.spark.sql.graftexpr.DotProduct]] expression; its strict
  * left-fold float semantics match DuckDB's `list_reduce`, so the
  * oracle reproduces the scores bit-for-bit.
  */
object VectorSearch {

  import org.apache.spark.sql.graftexpr.VectorFunctions.dot_product

  /** any frame carrying an `embedding` column → double vectors `v` +
    * precomputed L2 norms, keeping every other column. Shared by the
    * in-file search paths and [[Pipeline.filteredTopK]]. */
  private[graft] def withNorms(df: DataFrame): DataFrame = {
    val keep = df.columns.filterNot(_ == "embedding").map(col)
    df.select(keep :+ expr("transform(embedding, x -> cast(x as double))").as("v"): _*)
      .withColumn("nrm", sqrt(dot_product(col("v"), col("v"))))
  }

  /** embeddings with double vectors + precomputed L2 norms. */
  private def normed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withNorms(
      Tables.load(s, dir, "embeddings")
        .repartition($"vec_id")   // single-file fixture → spread the work (UNPINNED on purpose: tiny vector frames — 32 pinned partitions taxed every downstream stage ~1.3-2x, measured round 19)
        .select($"vec_id", $"embedding"))
      // localCheckpoint, not persist: (a) the frame is referenced on both
      // sides of the scoring join, so lineage truncation keeps the plan
      // small (round-2 lesson); (b) the columnar cache serializes
      // array<double> columns through the generic path — row-format
      // checkpoint blocks read back ~10x faster for wide vector columns
      // (measured on the 40k-vector scale-probe corpus)
      .localCheckpoint()
  }

  /** scored (qid, vec_id, cos) → global top-k per query: per-partition
    * bounded heaps (≤ k rows leave each partition) + tiny rank merge. */
  private[operators] def rankTopK(s: SparkSession, scored: DataFrame, k: Int): DataFrame = {
    import s.implicits._
    val local = scored.as[(Long, Long, Double)]
      .mapPartitions(it => localTopK(it, k))
      .toDF("qid", "vec_id", "cos")
    val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"vec_id")
    local.withColumn("rn", row_number().over(w))
      .filter($"rn" <= k)
      .select($"qid", $"rn", $"vec_id", $"cos")
      .orderBy($"qid", $"rn")
  }

  /** per-partition bounded top-k: keeps ≤ k (cos desc, vec_id asc)
    * candidates per query key inside each partition — the map-side
    * combine of a distributed top-k. */
  private[operators] def localTopK(
      it: Iterator[(Long, Long, Double)], k: Int): Iterator[(Long, Long, Double)] = {
    val ord = Ordering.by[(Long, Long, Double), (Double, Long)] {
      case (_, vid, cos) => (-cos, vid)
    }
    val heaps = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.PriorityQueue[(Long, Long, Double)]]
    it.foreach { row =>
      val heap = heaps.getOrElseUpdate(row._1,
        scala.collection.mutable.PriorityQueue.empty[(Long, Long, Double)](ord))
      heap.enqueue(row)                       // max-heap on (−cos, vid): head = worst kept
      if (heap.size > k) heap.dequeue()
    }
    heaps.valuesIterator.flatMap(_.iterator)
  }

  /** Brute-force cosine top-10 for query vectors vec_id < 8. */
  /** [[topK]]'s body over an explicit normed base — factored so
    * [[recallEvalMembers]] can share ONE corpus base per invocation. */
  private def topKFrom(s: SparkSession, e: DataFrame): DataFrame = {
    import s.implicits._
    val k = 10
    val q = e.filter($"vec_id" < 8)
      .select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qnrm"))
    val scored = e.join(broadcast(q), $"vec_id" =!= $"qid")
      .select($"qid", $"vec_id",
        (dot_product($"qv", $"v") / ($"qnrm" * $"nrm")).as("cos"))
    rankTopK(s, scored, k)
  }

  val topK: Q = Q(
    "vector_topk",
    (s, dir) => topKFrom(s, normed(s, dir)),
    Some("""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
      n AS (SELECT vec_id, v,
              sqrt(list_reduce(list_transform(list_zip(v, v), s -> s[1]*s[2]), (a, b) -> a + b)) nrm
            FROM e),
      qs AS (SELECT vec_id qid, v qv, nrm qnrm FROM n WHERE vec_id < 8),
      p AS (SELECT qid, vec_id,
              list_reduce(list_transform(list_zip(qv, v), s -> s[1]*s[2]), (x, y) -> x + y)
                / (qnrm * nrm) AS cos
            FROM qs, n WHERE vec_id <> qid),
      r AS (SELECT qid, vec_id, cos,
              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) rn
            FROM p)
      SELECT qid, rn, vec_id, cos FROM r WHERE rn <= 10 ORDER BY qid, rn
    """)
  )

  /** splitmix64 finalizer + Box–Muller: a seedless deterministic
    * standard-normal stream for plane components. */
  private def planeGauss(seed: Long): Double = {
    def mix(x0: Long): Long = {
      var x = x0 + 0x9e3779b97f4a7c15L
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
      x ^ (x >>> 31)
    }
    val u1 = ((mix(seed) >>> 11).toDouble + 1.0) / 9007199254740993.0
    val u2 = ((mix(seed + 0x632be59bd9b4e019L) >>> 11).toDouble + 0.5) / 9007199254740992.0
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  /** fixed pseudo-random hyperplanes: INDEPENDENT standard-normal
    * components (deterministic, seedless, shipped as literals so the
    * sign-bit dot products stay codegen'd). The original family —
    * consecutive samples of sin() — carried cos(64 mod 2π) ≈ 0.39
    * inter-plane correlation (plane i+1 is the same stream shifted
    * 1.17 rad), which `tools.EmbedDedupScaleProbe` measured as ~2×
    * candidate inflation at equal recall and near-flat candidate
    * volume in the plane count; independent Gaussians restore the
    * 2ᵖ bucket-count scaling the LSH analysis assumes. */
  private val hyperplanes: Seq[Seq[Double]] = planesFor(8)

  /** Multiprobe radius for [[annLsh]] (bit flips of the 8-bit sign
    * bucket explored per query): radius 1 → 9 probes of 256 buckets
    * (~3.5% of a uniform corpus), radius 2 → 37 (~14%). The
    * recall/cost dial; overridable via `graft.vector.lsh.probeHamming`.
    * On clustered data (the regime ANN is for) radius 2 measures ~0.89
    * recall of true cos ≥ 0.9 neighbors (floor 0.85 gated in
    * VectorPlantedSpec); the ≥ 0.9-gated dial is radius 3 (measured
    * 0.9875) or IVF. */
  val LshDefaultProbeHamming = 2

  private def lshProbeHamming(s: SparkSession): Int =
    s.conf.getOption("graft.vector.lsh.probeHamming").map(_.toInt)
      .getOrElse(LshDefaultProbeHamming)

  /** all 8-bit masks with ≤ `radius` bits set (the multiprobe offsets). */
  private[operators] def probeMasks(radius: Int): Seq[Int] =
    (0 until 256).filter(m => Integer.bitCount(m) <= radius)

  /** deterministic hyperplane set at any plane count (the serving set
    * [[hyperplanes]] is the 8-plane prefix), so scale probes can dial
    * bucket counts without a second plane-generation code path. */
  private[graft] def planesFor(count: Int): Seq[Seq[Double]] =
    Seq.tabulate(count, 64)((i, d) => planeGauss(i * 131071L + d * 257L))

  /** the sign bucket of a (double-array) vector column — shared with
    * [[Dedup.embeddingLsh]] so the dedup scale path hashes with exactly
    * the planes the ANN path serves from (default: the 8 serving
    * planes; probes pass wider sets to dial 2^p). */
  private[graft] def signBucket(
      v: Column, planes: Seq[Seq[Double]] = hyperplanes): Column = {
    import org.apache.spark.sql.graftexpr.VectorFunctions.dot_product
    planes.zipWithIndex.map { case (hp, i) =>
      when(dot_product(v, typedLit(hp)) > 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _).cast("int")
  }

  /** DuckDB rendition of the left-fold dot product over list columns. */
  private[operators] def sqlDot(a: String, b: String): String =
    s"list_reduce(list_transform(list_zip($a, $b), s -> s[1]*s[2]), (x, y) -> x + y)"

  /** DuckDB rendition of [[signBucket]] over a list column named `v`. */
  private[operators] def sqlSignBucket(v: String): String = {
    def lit(hp: Seq[Double]): String = hp.map(_.toString).mkString("[", ", ", "]")
    hyperplanes.zipWithIndex.map { case (hp, i) =>
      s"CASE WHEN ${sqlDot(v, lit(hp))} > 0 THEN ${1 << i} ELSE 0 END"
    }.mkString(" + ")
  }

  /** DuckDB rendition of the LSH path at the DEFAULT dials: the
    * hyperplanes are fixed literals and every step (sign buckets,
    * XOR multiprobe, left-fold cosine, rank) is exact arithmetic, so
    * the "approximate" operator is still a deterministic function of
    * its input — and therefore fully oracle-able. Doubles are embedded
    * via Double.toString (round-trip exact). */
  private def annLshOracleSql: String = {
    def dot(a: String, b: String): String = sqlDot(a, b)
    val bucketExpr = sqlSignBucket("v")
    val masks = probeMasks(LshDefaultProbeHamming).mkString(", ")
    s"""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
                 FROM embeddings),
      n AS (SELECT vec_id, v,
              sqrt(${dot("v", "v")}) nrm,
              CAST($bucketExpr AS INT) AS bucket
            FROM e),
      q AS (SELECT vec_id qid, v qv, nrm qnrm, bucket qb FROM n WHERE vec_id < 8),
      probes AS (SELECT qid, qv, qnrm, CAST(xor(qb, m) AS INT) AS bucket
                 FROM q CROSS JOIN (SELECT unnest([$masks]) AS m)),
      cand AS (SELECT qid, vec_id,
                 ${dot("qv", "v")} / (qnrm * nrm) AS cos
               FROM probes JOIN n USING (bucket)
               WHERE vec_id <> qid),
      r AS (SELECT qid, vec_id, cos,
              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) rn
            FROM cand)
      SELECT qid, rn, vec_id, cos FROM r WHERE rn <= 10 ORDER BY qid, rn
    """
  }

  /** Random-hyperplane LSH: 8 sign bits → 256 buckets, multiprobe by
    * exploring all buckets within [[lshProbeHamming]] bit flips.
    * Deterministic (fixed literal hyperplanes) → FULL DuckDB oracle at
    * the default dials; VectorSpec floors recall vs the exact top-k on
    * the (isotropic) fixture and VectorPlantedSpec gates planted-data
    * recall (≥ 0.85 at the default radius 2, ≥ 0.9 at radius 3). */
  /** the LSH candidate stream (qid, vec_id, cos) BEFORE ranking —
    * factored out so scale probes can measure candidate volume (the
    * fraction of the corpus each query actually scans) on the exact
    * code path the operator runs. */
  private[graft] def lshCandidates(s: SparkSession, dir: String): DataFrame =
    lshCandidatesFrom(s, normed(s, dir))

  private def lshCandidatesFrom(s: SparkSession, e0: DataFrame): DataFrame = {
    import s.implicits._
    val e = e0.withColumn("bucket", signBucket($"v"))
    val q = e.filter($"vec_id" < 8)
      .select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qnrm"), $"bucket".as("qb"))
    val masks = probeMasks(lshProbeHamming(s))
    val probes = q.select($"qid", $"qv", $"qnrm",
      explode(expr(
        s"transform(array(${masks.mkString(",")}), m -> cast(qb ^ m as int))")).as("bucket"))
    e.join(broadcast(probes), Seq("bucket"))
      .filter($"vec_id" =!= $"qid")
      .select($"qid", $"vec_id",
        (dot_product($"qv", $"v") / ($"qnrm" * $"nrm")).as("cos"))
  }

  val annLsh: Q = Q(
    "vector_ann_lsh",
    (s, dir) => rankTopK(s, lshCandidates(s, dir), 10),
    Some(annLshOracleSql)
  )

  /** IVF (inverted-file) ANN: a KMeans coarse quantizer (k=16, fixed
    * seed) partitions the corpus into cells; each query probes its
    * nprobe=2 nearest cells and ranks only those candidates — the
    * classic recall/cost dial (here ~1/8 of the corpus scanned).
    * Training is one small ML job; assignment and probing are plain
    * joins, so the serving path shuffles once on the cell id.
    * Probabilistic/iterative → no SQL oracle; VectorSpec measures
    * recall vs the exact top-k. */
  /** IVF probe count (cells scanned per query of the 16): the
    * recall/cost dial; overridable via `graft.vector.ivf.nprobe`.
    * VectorPlantedSpec gates recall ≥ 0.9 on clustered data at the
    * default. */
  val IvfDefaultNprobe = 2

  private def ivfNprobe(s: SparkSession): Int =
    s.conf.getOption("graft.vector.ivf.nprobe").map(_.toInt)
      .getOrElse(IvfDefaultNprobe)

  /** nprobe nearest cells per query vector (vec_id < 8) over a
    * broadcast centroid table (cell, cvec): distance ranked by
    * c·c − 2q·c (q·q is constant per query). Shared by both IVF
    * variants so the serving path cannot silently diverge. */
  private[operators] def probeCells(s: SparkSession, queries: DataFrame,
      cents: DataFrame, nprobe: Int): DataFrame = {
    import s.implicits._
    val probeW = Window.partitionBy($"qid").orderBy($"score", $"cell")
    queries.crossJoin(broadcast(cents))
      .withColumn("score",
        dot_product($"cvec", $"cvec") - lit(2.0) * dot_product($"qv", $"cvec"))
      .withColumn("pr", row_number().over(probeW))
      .filter($"pr" <= nprobe)
      .select($"qid", $"qv", $"qnrm", $"cell")
  }

  /** candidates = assigned vectors in the probed cells (self excluded).
    * Shared by both IVF variants; exposed to the scale probes for
    * candidate-volume measurement. */
  private[graft] def cellCandidates(s: SparkSession, assigned: DataFrame,
      probes: DataFrame): DataFrame = {
    import s.implicits._
    assigned.join(broadcast(probes), Seq("cell"))
      .filter($"vec_id" =!= $"qid")
      .select($"qid", $"vec_id",
        (dot_product($"qv", $"v") / ($"qnrm" * $"nrm")).as("cos"))
  }

  /** probed-cell candidates exact-cosine-ranked to the global top-k. */
  private def serveCandidates(s: SparkSession, assigned: DataFrame,
      probes: DataFrame, k: Int): DataFrame =
    rankTopK(s, cellCandidates(s, assigned, probes), k)

  /** the IVF-Flat candidate stream (same content-addressed codebook and
    * serving path as [[annIvfFlat]]) BEFORE ranking — for scale probes. */
  /** content-addressed coarse-quantizer assignment shared by
    * [[annIvfFlat]] and [[graft.operators.Dedup.semantic]]: the 16
    * lowest-vec_id corpus vectors are the codebook (random-sample
    * init), every vector goes to its argmin(c·c − 2v·c) cell via a
    * broadcast codebook scan folded by a partial-aggregated
    * min-struct. Returns (vec_id, v, nrm, cell) plus the centroid
    * frame. */
  private[graft] def ivfFlatAssign(
      s: SparkSession, dir: String, nCells: Int = 16): (DataFrame, DataFrame) =
    ivfFlatAssignFrom(s, normed(s, dir), nCells)

  private[graft] def ivfFlatAssignFrom(
      s: SparkSession, e: DataFrame, nCells: Int = 16): (DataFrame, DataFrame) = {
    import s.implicits._
    val cents = e.filter($"vec_id" < nCells)
      .select($"vec_id".cast("int").as("cell"), $"v".as("cvec"))
    val dist = dot_product($"cvec", $"cvec") - lit(2.0) * dot_product($"v", $"cvec")
    val best = e.crossJoin(broadcast(cents))
      .withColumn("score", dist)
      .groupBy($"vec_id").agg(min(struct($"score", $"cell")).as("b"))
      .select($"vec_id", $"b.cell".as("cell"))
    (e.join(best, "vec_id"), cents)
  }

  private[graft] def ivfFlatCandidates(s: SparkSession, dir: String): DataFrame =
    ivfFlatCandidatesOf(s, ivfFlatAssign(s, dir))

  private def ivfFlatCandidatesOf(
      s: SparkSession, ac: (DataFrame, DataFrame)): DataFrame = {
    import s.implicits._
    val nprobe = 2
    val (assigned, cents) = ac
    val q = assigned.filter($"vec_id" < 8)
      .select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qnrm"))
    cellCandidates(s, assigned, probeCells(s, q, cents, nprobe))
  }

  val annIvf: Q = Q(
    "vector_ann_ivf",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
      val k = 10
      val nprobe = ivfNprobe(s)
      val e = normed(s, dir).withColumn("fv", array_to_vector($"v"))
      val model = new KMeans().setK(16).setSeed(42).setMaxIter(5)
        .setFeaturesCol("fv").setPredictionCol("cell")
        .fit(e)
      val assigned = model.transform(e).select($"vec_id", $"v", $"nrm", $"cell").persist()
      // centroid table (16 rows) — broadcast everywhere
      val cents = model.clusterCenters.zipWithIndex.map { case (c, i) => (i, c.toArray.toSeq) }
        .toSeq.toDF("cell", "cvec")
      val q = assigned.filter($"vec_id" < 8)
        .select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qnrm"))
      serveCandidates(s, assigned, probeCells(s, q, cents, nprobe), k)
    },
    None
  )

  /** IVF-Flat with a CONTENT-ADDRESSED codebook: the coarse quantizer's
    * 16 centroids are the corpus vectors with the lowest vec_ids
    * (random-sample codebook init — the standard cheap alternative to
    * Lloyd iterations), which makes the whole operator deterministic
    * and SQL-expressible, so unlike [[annIvf]] (KMeans cells,
    * spec-gated) this variant carries a full DuckDB oracle. Same
    * serving shape as every IVF: assign each vector to its nearest
    * centroid (argmin of c·c − 2v·c — a per-row scan of the broadcast
    * codebook folded by a partial-aggregated min-struct, so ≤1 row per
    * vector crosses the shuffle), probe the nprobe=2 nearest cells per
    * query, exact-cosine-rank only those candidates. Cell quality is
    * below a trained quantizer's; the dial trade is the point — the
    * oracle pins the machinery exactly, the KMeans variant keeps the
    * trained-quality path. */
  val annIvfFlat: Q = Q(
    "vector_ann_ivf_flat",
    // candidate generation factored into [[ivfFlatCandidates]] (nprobe=2
    // fixed there: the oracle mirrors that literal)
    (s, dir) => rankTopK(s, ivfFlatCandidates(s, dir), 10),
    Some("""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
                 FROM embeddings),
      n AS (SELECT vec_id, v,
              sqrt(list_reduce(list_transform(list_zip(v, v), s -> s[1]*s[2]), (a, b) -> a + b)) nrm
            FROM e),
      cents AS (SELECT CAST(vec_id AS INT) AS cell, v AS cvec FROM n WHERE vec_id < 16),
      sc AS (SELECT n.vec_id, cell,
               list_reduce(list_transform(list_zip(cvec, cvec), s -> s[1]*s[2]), (x, y) -> x + y)
                 - 2.0 * list_reduce(list_transform(list_zip(v, cvec), s -> s[1]*s[2]), (x, y) -> x + y)
                 AS score
             FROM n, cents),
      assign AS (SELECT vec_id, cell FROM (
                   SELECT vec_id, cell,
                          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, cell) rn
                   FROM sc) WHERE rn = 1),
      qs AS (SELECT vec_id qid, v qv, nrm qnrm FROM n WHERE vec_id < 8),
      qsc AS (SELECT qid, qv, qnrm, cell,
                list_reduce(list_transform(list_zip(cvec, cvec), s -> s[1]*s[2]), (x, y) -> x + y)
                  - 2.0 * list_reduce(list_transform(list_zip(qv, cvec), s -> s[1]*s[2]), (x, y) -> x + y)
                  AS score
              FROM qs, cents),
      probes AS (SELECT qid, qv, qnrm, cell FROM (
                   SELECT qid, qv, qnrm, cell,
                          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score, cell) pr
                   FROM qsc) WHERE pr <= 2),
      cand AS (SELECT p.qid, a.vec_id,
                 list_reduce(list_transform(list_zip(p.qv, n.v), s -> s[1]*s[2]), (x, y) -> x + y)
                   / (p.qnrm * n.nrm) AS cos
               FROM probes p JOIN assign a USING (cell) JOIN n ON n.vec_id = a.vec_id
               WHERE a.vec_id <> p.qid),
      r AS (SELECT qid, vec_id, cos,
              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) rn
            FROM cand)
      SELECT qid, rn, vec_id, cos FROM r WHERE rn <= 10 ORDER BY qid, rn
    """)
  )

  /** Per-label centroids via the typed [[graft.functions.VectorMeanAggregator]]
    * (partial-aggregating Aggregator: one small buffer per group per
    * partition crosses the shuffle). FP sums depend on partial-merge
    * order, so the norm is emitted in MICRO-units (×1e6, rounded to
    * BIGINT): merge-order noise is ~1e-15 relative — far inside one
    * rounding bucket — which makes the value engine-comparable, so the
    * distributed Aggregator path gets a REAL DuckDB oracle. VectorSpec
    * additionally pins each micro-rounded norm to within 1 micro-unit
    * of a driver-side recomputation. */
  val labelCentroids: Q = Q(
    "vector_label_centroids",
    (s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "embeddings")
        .select($"label", $"embedding")
        .as[(Int, Seq[Float])]
        .groupByKey(_._1)
        .mapValues(_._2)
        .agg(new graft.functions.VectorMeanAggregator(64).toColumn.name("centroid"))
        .toDF("label", "centroid")
        .select($"label", size($"centroid").as("dim"),
          round(sqrt(graftexprDot($"centroid")) * 1e6).cast("long").as("norm_micro"))
        .orderBy($"label")
    },
    Some("""
      WITH x AS (
        SELECT label, d - 1 AS dim, AVG(CAST(v AS DOUBLE)) AS m
        FROM (SELECT label, unnest(embedding) AS v,
                     generate_subscripts(embedding, 1) AS d
              FROM embeddings)
        GROUP BY label, d
      )
      SELECT label, CAST(COUNT(*) AS INT) AS dim,
             CAST(ROUND(sqrt(SUM(m * m)) * 1e6) AS BIGINT) AS norm_micro
      FROM x
      GROUP BY label
      ORDER BY label
    """)
  )

  private def graftexprDot(c: org.apache.spark.sql.Column) =
    org.apache.spark.sql.graftexpr.VectorFunctions.dot_product(c, c)

  /** Symmetric int8 quantization of the embedding column — the 4×
    * storage/bandwidth reduction step an at-scale vector store applies
    * before indexing (scale = 127/max|x| per vector, q = round(x·scale)).
    * Pure per-row projection: no shuffle, embarrassingly parallel, and
    * the int8 codes stream straight to parquet. Exactly oracled: both
    * engines compute the same double products and the same
    * round-half-away-from-zero (Spark HALF_UP on the exact binary
    * value ≡ DuckDB's round), so the code arrays match element-wise;
    * the per-vector scale rides along in micro-units. The codes are
    * emitted as ONE comma-joined string column (`q_str`) rather than an
    * array<int>: the correctness harness canonicalizes result frames by
    * sorting every column, and list-typed columns are unsortable there
    * (pandas `Categorical` raises "unhashable type") — the round-3 gate
    * recorded exactly that error, so the comparison never ran. The
    * string join is lossless (ints have one decimal rendering), keeping
    * the element-exact contract while making the frame hashable. */
  val quantize: Q = Q(
    "embed_quantize",
    (s, dir) => {
      import s.implicits._
      graft.Tables.load(s, dir, "embeddings")
        .select($"vec_id", expr("transform(embedding, x -> cast(x as double))").as("v"))
        .withColumn("amax", expr("array_max(transform(v, x -> abs(x)))"))
        .filter($"amax" > 0)
        .withColumn("scale", lit(127.0) / $"amax")
        .select($"vec_id",
          array_join(expr("transform(v, x -> cast(round(x * scale) as int))"), ",")
            .as("q_str"),
          round($"scale" * 1e6).cast("long").as("scale_micro"))
        .orderBy($"vec_id")
    },
    Some("""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
                 FROM embeddings),
      a AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) amax FROM e)
      SELECT vec_id,
             array_to_string(
               list_transform(v, x -> CAST(ROUND(x * (127.0 / amax)) AS INT)),
               ',') AS q_str,
             CAST(ROUND((127.0 / amax) * 1e6) AS BIGINT) AS scale_micro
      FROM a WHERE amax > 0 ORDER BY vec_id
    """)
  )

  /** Contrastive NEGATIVE sampling — the training-pair construction
    * step for embedding/retrieval models: per query, 5 deterministic
    * pseudo-uniform negatives drawn from the corpus EXCLUDING the true
    * top-10 cosine neighborhood (a "negative" that is actually a near
    * neighbor poisons the contrastive loss — the exclusion is the
    * point of the operator). The draw is content-addressed
    * (md5(qid:vec_id) rank), so resampling a grown corpus moves as
    * few negatives as possible and reruns are reproducible — the same
    * hash-addressing discipline every sampler in the catalog uses.
    *
    * Scale shape: scoring rides [[topK]]'s broadcast-query join (one
    * corpus scan, queries broadcast); both rank stages are per-query
    * top-k — the window form here, [[rankTopK]]'s bounded per-partition
    * heaps at corpus scale (same dial as every vector op). Cosine
    * rides along free for auditability since exclusion already scored
    * every candidate. */
  val negatives: Q = Q(
    "vector_negatives",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val (k, nNeg) = (10, 5)
      val e = normed(s, dir)
      val q = e.filter($"vec_id" < 8)
        .select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qnrm"))
      val wCos = Window.partitionBy($"qid").orderBy($"cos".desc, $"vec_id")
      val wNeg = Window.partitionBy($"qid").orderBy($"nk", $"vec_id")
      e.join(broadcast(q), $"vec_id" =!= $"qid")
        .select($"qid", $"vec_id",
          (dot_product($"qv", $"v") / ($"qnrm" * $"nrm")).as("cos"))
        .withColumn("pos_rn", row_number().over(wCos))
        .filter($"pos_rn" > k)
        .withColumn("nk",
          md5(concat($"qid".cast("string"), lit(":"), $"vec_id".cast("string"))))
        .withColumn("rn", row_number().over(wNeg))
        .filter($"rn" <= nNeg)
        .select($"qid", $"rn", $"vec_id", $"nk", $"cos")
        .orderBy($"qid", $"rn")
    },
    Some("""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
      n AS (SELECT vec_id, v,
              sqrt(list_reduce(list_transform(list_zip(v, v), s -> s[1]*s[2]), (a, b) -> a + b)) nrm
            FROM e),
      qs AS (SELECT vec_id qid, v qv, nrm qnrm FROM n WHERE vec_id < 8),
      p AS (SELECT qid, vec_id,
              list_reduce(list_transform(list_zip(qv, v), s -> s[1]*s[2]), (x, y) -> x + y)
                / (qnrm * nrm) AS cos
            FROM qs, n WHERE vec_id <> qid),
      r AS (SELECT qid, vec_id, cos,
              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) rn
            FROM p),
      neg AS (
        SELECT qid, vec_id, cos,
               md5(CAST(qid AS VARCHAR) || ':' || CAST(vec_id AS VARCHAR)) nk
        FROM r WHERE rn > 10
      ),
      nr AS (SELECT qid, vec_id, cos, nk,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY nk, vec_id) rn
             FROM neg)
      SELECT qid, rn, vec_id, nk, cos FROM nr WHERE rn <= 5 ORDER BY qid, rn
    """)
  )

  /** Embedding-space OOD/quality gate: every vector scored by cosine
    * to its OWN label's centroid, with the below-threshold tail
    * flagged — the "drop the junk that doesn't look like its class"
    * filter (mislabeled rows, encoder failures, garbage inputs) a
    * training pipeline runs between embedding and indexing. Emits ALL
    * rows with the flag rather than silently dropping, so the caller
    * audits what a gate WOULD cut — the `quality_filter_reasons`
    * convention in embedding space.
    *
    * Parity: centroid means and the fold-ordered dot products differ
    * between engines only in float summation order; the score is
    * micro-rounded ONCE per row (the [[labelCentroids]] norm_micro
    * discipline — a flip needs the true value within ~1e-9 of a micro
    * boundary) and the flag compares the SAME micro integer on both
    * sides, so it can never straddle.
    *
    * Scale shape: centroids are a partial-aggregated
    * one-buffer-per-(partition,label) shuffle ([[VectorMeanAggregator]]
    * — kilobytes at any corpus size), BROADCAST back onto the corpus
    * scan; scoring is one codegen'd pass, no second exchange. */
  val oodFilter: Q = Q(
    "vector_ood_filter",
    (s, dir) => {
      import s.implicits._
      val thresholdMicro = 100000L   // cos < 0.1 → not of its class
      val cents = Tables.load(s, dir, "embeddings")
        .select($"label", $"embedding")
        .as[(Int, Seq[Float])]
        .groupByKey(_._1)
        .mapValues(_._2)
        .agg(new graft.functions.VectorMeanAggregator(64).toColumn.name("centroid"))
        .toDF("label", "centroid")
        .withColumn("cnorm", sqrt(dot_product($"centroid", $"centroid")))
      val e = withNorms(Tables.load(s, dir, "embeddings")
        .select($"vec_id", $"label", $"embedding"))
      e.join(broadcast(cents), "label")
        .withColumn("cos_micro",
          round(dot_product($"v", $"centroid") / ($"nrm" * $"cnorm") * 1e6).cast("long"))
        .select($"vec_id", $"label", $"cos_micro",
          ($"cos_micro" < thresholdMicro).as("is_ood"))
        .orderBy($"vec_id")
    },
    Some("""
      WITH c AS (
        SELECT label, d AS dim, AVG(CAST(v AS DOUBLE)) AS m
        FROM (SELECT label, unnest(embedding) AS v,
                     generate_subscripts(embedding, 1) AS d
              FROM embeddings)
        GROUP BY label, d
      ),
      cn AS (SELECT label, sqrt(SUM(m * m)) AS cnorm FROM c GROUP BY label),
      ex AS (
        SELECT vec_id, label, unnest(embedding) AS v,
               generate_subscripts(embedding, 1) AS d
        FROM embeddings
      ),
      sc AS (
        SELECT ex.vec_id, ex.label,
               SUM(CAST(ex.v AS DOUBLE) * c.m) AS dp,
               SUM(CAST(ex.v AS DOUBLE) * CAST(ex.v AS DOUBLE)) AS en2
        FROM ex JOIN c ON ex.label = c.label AND ex.d = c.dim
        GROUP BY ex.vec_id, ex.label
      )
      SELECT sc.vec_id, sc.label,
             CAST(ROUND(dp / (sqrt(en2) * cn.cnorm) * 1e6) AS BIGINT) AS cos_micro,
             CAST(ROUND(dp / (sqrt(en2) * cn.cnorm) * 1e6) AS BIGINT) < 100000 AS is_ood
      FROM sc JOIN cn ON sc.label = cn.label
      ORDER BY sc.vec_id
    """)
  )

  /** PRODUCT QUANTIZATION with asymmetric-distance serving (IVF-PQ's
    * memory half, Jégou et al.'s PQ): the 64-dim embedding splits into
    * M=8 contiguous 8-dim subspaces, each with its own 16-entry
    * codebook, and every vector is stored as 8 four-bit codes — 4
    * bytes against 256 bytes of float32, the 64× compression that
    * lets a 10⁹-vector index live in executor memory at all. The
    * codebooks are CONTENT-ADDRESSED ([[annIvfFlat]]'s random-sample
    * init: subvector m of the 16 lowest-vec_id corpus vectors), which
    * makes encode and serve deterministic and fully SQL-expressible —
    * so unlike trained-KMeans PQ this variant carries a complete
    * DuckDB oracle.
    *
    * Serving is true ADC: each query precomputes a 128-entry lookup
    * table (subspace × code → q_m·c_{m,code}, MICRO-rounded once so
    * the cross-subspace total is an exact INTEGER sum — no float
    * accumulation-order hazard), and scoring a database vector reads
    * its 8 codes and adds 8 table entries. The corpus' float
    * embeddings are never touched at serve time.
    *
    * Scale shape: encode is one broadcast-codebook pass — the
    * (vector × subspace × code) distance stream partial-aggregates to
    * an argmin row per (vector, subspace) before the only exchange,
    * then regroups to a codes ARRAY per vector. Serve is a stateless
    * projection of the codes table against the broadcast LUTs (8
    * queries × 1 KB) — zero joins, zero shuffles over the corpus —
    * followed by the per-query top-k ([[rankTopK]]'s bounded
    * per-partition heaps at corpus scale; the window form here for
    * oracle parity). Approximation quality is the codebook's, not the
    * machinery's: the spec audits recall against [[topK]]'s exact
    * ranking. */
  private def pqMs = explode(sequence(lit(0), lit(7))).as("m")

  /** (m, code, csv): subvector m of the 16 lowest-vec_id corpus vectors
    * — the content-addressed per-subspace codebook. */
  private[operators] def pqCodebookSub(e: DataFrame): DataFrame = {
    val s = e.sparkSession; import s.implicits._
    e.filter($"vec_id" < 16)
      .select($"vec_id".cast("int").as("code"), $"v".as("cv"))
      .select($"code", pqMs, $"cv")
      .withColumn("csv", expr("slice(cv, m * 8 + 1, 8)"))
      .select($"m", $"code", $"csv")
  }

  /** (vec_id, codes[8]): argmin_{code} ||v_m − c_{m,code}||² per
    * subspace. The 16×8 codebook is tiny and content-addressed, so it
    * is COLLECTED ONCE and task-broadcast into a single tight
    * `mapPartitions` pass — exactly what any PQ encoder does. The
    * first cut expressed the argmin relationally (explode ×(8·16) →
    * broadcast join → min(struct)); Catalyst plans a struct-min as
    * SortAggregate with the interpreted zip_with distance inlined into
    * the sort producer, which a thread dump showed running effectively
    * single-threaded — 14–28 s per run at 80k vectors where this
    * kernel takes well under a second, shuffle-free, with exact-double
    * parity (left-fold Σ(x−y)², ties to the lower code) unchanged. */
  private[operators] def pqEncode(e: DataFrame, cbsub: DataFrame): DataFrame = {
    val s = e.sparkSession; import s.implicits._
    // [code][m][8] — 128 rows, the "collect broadcast stats" pattern
    val cb: Array[Array[Array[Double]]] =
      cbsub.select($"m", $"code", $"csv").as[(Int, Int, Seq[Double])].collect()
        .groupBy(_._2).toSeq.sortBy(_._1)
        .map(_._2.sortBy(_._1).map(_._3.toArray).toArray).toArray
    val bc = s.sparkContext.broadcast(cb)
    e.select($"vec_id", $"v").as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val cb = bc.value
        it.map { case (id, vSeq) =>
          val v = vSeq.toArray
          val codes = new Array[Int](8)
          var m = 0
          while (m < 8) {
            var best = 0
            var bestD = Double.MaxValue
            var j = 0
            while (j < cb.length) {
              val c = cb(j)(m)
              var d = 0.0
              var i = 0
              while (i < 8) { val x = v(m * 8 + i) - c(i); d += x * x; i += 1 }
              if (d < bestD) { bestD = d; best = j }
              j += 1
            }
            codes(m) = best
            m += 1
          }
          (id, codes.toSeq)
        }
      }.toDF("vec_id", "codes")
  }

  /** (qid, lut[128]): per-query ADC table — micro-rounded q_m·c_{m,j}
    * for every (subspace, code), indexed m·16+code. */
  private[operators] def pqQueryLuts(e: DataFrame, cbsub: DataFrame): DataFrame = {
    val s = e.sparkSession; import s.implicits._
    e.filter($"vec_id" < 8)
      .select($"vec_id".as("qid"), pqMs, $"v".as("qv"))
      .withColumn("qsv", expr("slice(qv, m * 8 + 1, 8)"))
      .join(cbsub, Seq("m"))
      .withColumn("c_micro",
        expr("cast(round(1e6 * aggregate(zip_with(qsv, csv, (x, y) -> x * y), 0D, (a, x) -> a + x)) as bigint)"))
      .groupBy($"qid")
      .agg(array_sort(collect_list(struct($"m", $"code", $"c_micro"))).as("t"))
      .select($"qid", expr("transform(t, s -> s.c_micro)").as("lut"))
  }

  /** integer ADC score: 8 LUT reads + 8 adds, no float anywhere. */
  private def adcScore = expr(
    "aggregate(transform(codes, (c, m) -> element_at(lut, m * 16 + c + 1)), 0L, (a, x) -> a + x)")

  /** [[pqAdc]]'s body over an explicit normed base — shared with
    * [[recallEvalMembers]]. */
  private def pqAdcFrom(s: SparkSession, e: DataFrame): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val cbsub = pqCodebookSub(e)
    val w = Window.partitionBy($"qid").orderBy($"ip_micro".desc, $"vec_id")
    pqEncode(e, cbsub).crossJoin(broadcast(pqQueryLuts(e, cbsub)))
      .filter($"vec_id" =!= $"qid")
      .withColumn("ip_micro", adcScore)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 10)
      .select($"qid", $"rn", $"vec_id", $"ip_micro")
      .orderBy($"qid", $"rn")
  }

  val pqAdc: Q = Q(
    "vector_pq_adc",
    (s, dir) => pqAdcFrom(s, normed(s, dir)),
    Some("""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
                 FROM embeddings),
      cbsub AS (
        SELECT m, CAST(vec_id AS INT) AS code, v[m * 8 + 1 : m * 8 + 8] AS csv
        FROM e, range(8) t(m) WHERE vec_id < 16
      ),
      sub AS (
        SELECT vec_id, m, v[m * 8 + 1 : m * 8 + 8] AS sv
        FROM e, range(8) t(m)
      ),
      enc AS (
        SELECT vec_id, m, code FROM (
          SELECT s.vec_id, s.m, c.code,
                 ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY
                   list_reduce(list_transform(list_zip(s.sv, c.csv),
                     p -> (p[1] - p[2]) * (p[1] - p[2])), (a, b) -> a + b), c.code) rn
          FROM sub s JOIN cbsub c USING (m))
        WHERE rn = 1
      ),
      qsub AS (
        SELECT vec_id AS qid, m, v[m * 8 + 1 : m * 8 + 8] AS qsv
        FROM e, range(8) t(m) WHERE vec_id < 8
      ),
      contrib AS (
        SELECT q.qid, x.vec_id,
               CAST(ROUND(1e6 * list_reduce(list_transform(list_zip(q.qsv, c.csv),
                 p -> p[1] * p[2]), (a, b) -> a + b)) AS BIGINT) AS c_micro
        FROM enc x
        JOIN cbsub c ON c.m = x.m AND c.code = x.code
        JOIN qsub q ON q.m = x.m
        WHERE x.vec_id <> q.qid
      ),
      scored AS (
        SELECT qid, vec_id, CAST(SUM(c_micro) AS BIGINT) AS ip_micro
        FROM contrib GROUP BY 1, 2
      ),
      r AS (
        SELECT qid, vec_id, ip_micro,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ip_micro DESC, vec_id) rn
        FROM scored
      )
      SELECT qid, CAST(rn AS INT) AS rn, vec_id, ip_micro
      FROM r WHERE rn <= 10 ORDER BY qid, rn
    """)
  )

  /** IVF-PQ — the production ANN index (Faiss's default at billion
    * scale), composed from the catalog's two oracled halves: the
    * [[annIvfFlat]] coarse quantizer cuts the candidate set to the
    * nprobe=2 probed cells (~nprobe/C of the corpus), and [[pqAdc]]'s
    * integer ADC scores those candidates from their 4-byte codes —
    * float embeddings are read at INDEX BUILD (assign + encode) and
    * for the 8 query LUTs, never on the serve path.
    *
    * Scale shape: build = two broadcast-codebook passes (coarse assign,
    * PQ encode), each partial-aggregated to one row per vector before
    * its exchange. Serve = probes broadcast onto the (cell-keyed)
    * codes table, ADC adds, per-query top-k — at 10⁹ vectors the
    * candidate stream is nprobe·N/C rows of 8 codes each, and the
    * whole serving working set (codes + LUTs) is ~4 GB where the flat
    * index needed 256. Recall is the product of the two
    * approximations; the spec audits it against [[topK]] exactly as
    * the halves' specs do. */
  /** [[annIvfPq]]'s body over an explicit CHECKPOINTED coarse
    * assignment — shared with [[recallEvalMembers]]. */
  private def annIvfPqOf(
      s: SparkSession, assigned: DataFrame, cents: DataFrame): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val cbsub = pqCodebookSub(assigned)
    val codes = pqEncode(assigned, cbsub)
      .join(assigned.select($"vec_id", $"cell"), "vec_id")
    val q = assigned.filter($"vec_id" < 8)
      .select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qnrm"))
    val probes = probeCells(s, q, cents, 2).select($"qid", $"cell")
    val w = Window.partitionBy($"qid").orderBy($"ip_micro".desc, $"vec_id")
    codes.join(broadcast(probes), Seq("cell"))
      .filter($"vec_id" =!= $"qid")
      .join(broadcast(pqQueryLuts(assigned, cbsub)), Seq("qid"))
      .withColumn("ip_micro", adcScore)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 10)
      .select($"qid", $"rn", $"vec_id", $"ip_micro")
      .orderBy($"qid", $"rn")
  }

  val annIvfPq: Q = Q(
    "vector_ann_ivfpq",
    (s, dir) => {
      // barrier: the coarse assignment feeds FOUR consumers in the body
      // (codebook, encode, queries, probes) — without it each re-runs
      // the 16-centroid argmin over the corpus
      val (assigned0, cents) = ivfFlatAssign(s, dir)
      annIvfPqOf(s, assigned0.localCheckpoint(), cents)
    },
    Some(s"""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
                 FROM embeddings),
      cents AS (SELECT CAST(vec_id AS INT) AS cell, v AS cvec FROM e WHERE vec_id < 16),
      sc AS (SELECT e.vec_id, cell,
               ${sqlDot("cvec", "cvec")} - 2.0 * ${sqlDot("v", "cvec")} AS score
             FROM e, cents),
      assign AS (SELECT vec_id, cell FROM (
                   SELECT vec_id, cell,
                          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, cell) rn
                   FROM sc) WHERE rn = 1),
      qs AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 8),
      qsc AS (SELECT qid, cell,
                ${sqlDot("cvec", "cvec")} - 2.0 * ${sqlDot("qv", "cvec")} AS score
              FROM qs, cents),
      probes AS (SELECT qid, cell FROM (
                   SELECT qid, cell,
                          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score, cell) pr
                   FROM qsc) WHERE pr <= 2),
      cbsub AS (
        SELECT m, CAST(vec_id AS INT) AS code, v[m * 8 + 1 : m * 8 + 8] AS csv
        FROM e, range(8) t(m) WHERE vec_id < 16
      ),
      sub AS (
        SELECT vec_id, m, v[m * 8 + 1 : m * 8 + 8] AS sv
        FROM e, range(8) t(m)
      ),
      enc AS (
        SELECT vec_id, m, code FROM (
          SELECT s.vec_id, s.m, c.code,
                 ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY
                   list_reduce(list_transform(list_zip(s.sv, c.csv),
                     p -> (p[1] - p[2]) * (p[1] - p[2])), (a, b) -> a + b), c.code) rn
          FROM sub s JOIN cbsub c USING (m))
        WHERE rn = 1
      ),
      qsub AS (
        SELECT vec_id AS qid, m, v[m * 8 + 1 : m * 8 + 8] AS qsv
        FROM e, range(8) t(m) WHERE vec_id < 8
      ),
      cand AS (
        SELECT p.qid, a.vec_id
        FROM probes p JOIN assign a USING (cell)
        WHERE a.vec_id <> p.qid
      ),
      contrib AS (
        SELECT q.qid, x.vec_id,
               CAST(ROUND(1e6 * list_reduce(list_transform(list_zip(q.qsv, c.csv),
                 p -> p[1] * p[2]), (a, b) -> a + b)) AS BIGINT) AS c_micro
        FROM enc x
        JOIN cbsub c ON c.m = x.m AND c.code = x.code
        JOIN qsub q ON q.m = x.m
      ),
      scored AS (
        SELECT c.qid, c.vec_id, CAST(SUM(c_micro) AS BIGINT) AS ip_micro
        FROM contrib c JOIN cand USING (qid, vec_id)
        GROUP BY 1, 2
      ),
      r AS (
        SELECT qid, vec_id, ip_micro,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ip_micro DESC, vec_id) rn
        FROM scored
      )
      SELECT qid, CAST(rn AS INT) AS rn, vec_id, ip_micro
      FROM r WHERE rn <= 10 ORDER BY qid, rn
    """)
  )

  /** Mutual k-NN graph (k=3) within IVF cells — the edge set that
    * graph-based dedup/clustering (SemDeDup-style, HNSW construction,
    * label propagation over near-neighbors) consumes. An edge survives
    * only if each endpoint ranks the other in ITS OWN top-3, which
    * prunes the asymmetric hub edges that make raw kNN graphs noisy.
    *
    * Scale design: candidate pairs come from the same within-cell
    * self-join as [[dedup_semantic]] — n²/C per cell, never all-pairs
    * corpus-wide; per-vector top-3 is a cell-partition-local window
    * (the window key `a` is a strict refinement of the join key `cell`,
    * so no second exchange); the mutuality filter is a self-semi-join
    * on the already-tiny top-k edge set. cos(a,b) is elementwise-
    * commutative in IEEE float, so both directions of an edge carry
    * bit-identical weights and the semi-join needs no tolerance. */
  /** The canonical (a<b) mutual top-3 edge set with cosine weights —
    * shared by [[knnGraph]] (reported directly) and [[pageRank]] (the
    * iterative consumer). See [[knnGraph]]'s scaladoc for the scale
    * shape.
    *
    * Cell-count dial: within-cell pair volume is n²/C, so C must GROW
    * with the corpus to keep per-cell population (and therefore pair
    * volume per cell) constant — `graft.vector.knn.cells` (DEFAULT
    * `auto` = max(16, n/1000); production's C ≈ n/1000 sizing with no
    * hand-tuning, one cheap count). ScaleProbe measured the fixed-C
    * trap directly: 4× the vectors at C=16 cost 14× the time, and
    * C=64 at the same scale restored the per-cell population and the
    * runtime (SCALING.md). The DuckDB oracles for the three graph
    * consumers pin C=16 — exactly what `auto` resolves to on every
    * fixture (all < 17k vectors — auto exceeds 16 from n ≥ 17000,
    * and VectorSpec pins knnCells == 16 on the fixture so growth
    * breaks the pin loudly), so the oracle contract and the
    * production default coincide there; setting the conf to any other
    * value is a production dial, not an oracle-comparable mode. */
  private[operators] def knnCells(s: SparkSession, dir: String): Int =
    s.conf.getOption("graft.vector.knn.cells") match {
      case Some("auto") | None =>
        val n = Tables.load(s, dir, "embeddings").count()
        math.max(16L, n / 1000L).toInt
      case Some(v) => v.toInt
    }

  private[operators] def mutualKnnEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (assigned, _) = ivfFlatAssign(s, dir, knnCells(s, dir))
    val l = assigned.select($"cell", $"vec_id".as("a"), $"v".as("va"), $"nrm".as("na"))
    val r = assigned.select($"cell", $"vec_id".as("b"), $"v".as("vb"), $"nrm".as("nb"))
    val pairs = l.join(r, "cell").filter($"a" =!= $"b")
      .select($"a", $"b", (dot_product($"va", $"vb") / ($"na" * $"nb")).as("cos"))
    val w = Window.partitionBy($"a").orderBy($"cos".desc, $"b")
    val top = pairs.withColumn("rn", row_number().over(w)).filter($"rn" <= 3)
      .select($"a", $"b", $"cos")
    top.join(top.select($"b".as("a"), $"a".as("b")), Seq("a", "b"), "left_semi")
      .filter($"a" < $"b")
  }

  /** DuckDB recomputation of [[mutualKnnEdges]]: IVF cell assignment,
    * within-cell cosine pairs, per-vector top-3, mutual filter — ends
    * in `m(a, b, cos)` with a < b. */
  private val mutualKnnSql = """e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
                 FROM embeddings),
      n AS (SELECT vec_id, v,
              sqrt(list_reduce(list_transform(list_zip(v, v), s -> s[1]*s[2]), (a, b) -> a + b)) nrm
            FROM e),
      cents AS (SELECT CAST(vec_id AS INT) AS cell, v AS cvec FROM n WHERE vec_id < 16),
      sc AS (SELECT n.vec_id, cell,
               list_reduce(list_transform(list_zip(cvec, cvec), s -> s[1]*s[2]), (x, y) -> x + y)
                 - 2.0 * list_reduce(list_transform(list_zip(v, cvec), s -> s[1]*s[2]), (x, y) -> x + y)
                 AS score
             FROM n, cents),
      assign AS (SELECT vec_id, cell FROM (
                   SELECT vec_id, cell,
                          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, cell) rn
                   FROM sc) WHERE rn = 1),
      av AS (SELECT a.vec_id, a.cell, n.v, n.nrm FROM assign a JOIN n USING (vec_id)),
      p AS (SELECT x.vec_id a, y.vec_id b,
              list_reduce(list_transform(list_zip(x.v, y.v), s -> s[1]*s[2]), (q, r) -> q + r)
                / (x.nrm * y.nrm) AS cos
            FROM av x JOIN av y ON x.cell = y.cell AND x.vec_id <> y.vec_id),
      t AS (SELECT a, b, cos FROM (
              SELECT a, b, cos, ROW_NUMBER() OVER (PARTITION BY a ORDER BY cos DESC, b) rn
              FROM p) WHERE rn <= 3),
      m AS (SELECT t.a, t.b, t.cos
            FROM t JOIN t t2 ON t.a = t2.b AND t.b = t2.a
            WHERE t.a < t.b)"""

  val knnGraph: Q = Q(
    "vector_knn_graph",
    (s, dir) => {
      import s.implicits._
      mutualKnnEdges(s, dir).orderBy($"a", $"b")
    },
    Some(s"""
      WITH $mutualKnnSql
      SELECT a, b, cos FROM m ORDER BY a, b
    """)
  )

  /** PageRank over the mutual kNN graph — centrality-based coreset /
    * representative selection: a vector central to its neighborhood
    * graph stands in for its region of embedding space (the selection
    * rule behind graph-based data pruning). Fixed 10 iterations of the
    * 0.85-damped walk in EXACT INTEGER MICRO-UNITS: each round is
    * rank' = 150000 + (85 · Σ (rank DIV deg)) DIV 100 — no float
    * accumulation, so the result is independent of Spark's aggregation
    * order AND bit-identical across engines (a float PageRank would
    * hash-differ run to run at high parallelism).
    *
    * Scale design: the per-round job is one equi-join of the
    * (vertex, rank) frame (16 B/vertex) onto the degree-annotated edge
    * list + one partial-aggregated integer sum — integer addition is
    * associative, so map-side combine applies where a float walk would
    * need ordered reduction. The edge list is materialized ONCE
    * (degrees attached), each round's rank frame is lineage-truncated
    * (the iterative localCheckpoint rule), and the mutual graph has no
    * dangling vertices by construction (every vertex in an edge has
    * deg ≥ 1 and symmetric in-edges). */
  /** The exact-integer damped walk over an UNDIRECTED edge frame
    * `(a, b)` (both directions present), factored so property tests
    * and scale probes can drive arbitrary graphs through both hybrid
    * paths. SIZE-GUARDED HYBRID (the connectedComponentsStar
    * discipline): every distributed round costs ~4 fixed jobs of
    * scheduler + shuffle overhead regardless of graph size — 10 rounds
    * over a fixture-scale graph paid ~4.5 s to walk a structure that
    * fits in a cache line. Under the threshold the SAME integer walk
    * runs on the driver (bit-identical by exact arithmetic); larger
    * graphs take the distributed rounds exactly as before. Returns
    * (vec_id, rank_micro), unordered. */
  private[graft] def pageRankWalk(s: SparkSession,
      undirected: DataFrame, iters: Int = 10): DataFrame = {
    import s.implicits._
    val und = undirected.toDF("a", "b").localCheckpoint()
    val threshold = s.conf.getOption("graft.vector.pagerank.localEdgeThreshold")
      .map(_.toLong).getOrElse(100000L)
    // ONE take(threshold+1) instead of count + collect (the CC-star
    // discipline): early-terminating on the checkpointed frame, and
    // the small case already holds its edges — one job saved per walk
    val cap = math.min(threshold, Int.MaxValue - 1L).toInt
    val es0 = und.take(cap + 1)
    // length <= CAP, not the raw threshold (round-19 ADVICE): a clamped
    // take() must never be mistaken for the full edge set
    if (es0.length <= cap && threshold > 0) {
      val es = es0.map(r => (r.getLong(0), r.getLong(1)))
      val deg = es.groupBy(_._1).view.mapValues(_.length.toLong).toMap
      var rank = deg.keys.map(_ -> 1000000L).toMap
      (1 to iters).foreach { _ =>
        val in = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
        es.foreach { case (a, b) => in(b) += rank(a) / deg(a) }
        rank = in.map { case (v, sum) => v -> (150000L + (85L * sum) / 100L) }.toMap
      }
      s.createDataset(rank.toSeq).toDF("vec_id", "rank_micro")
    } else {
      val deg = und.groupBy($"a").agg(count(lit(1)).as("deg"))
      val edges = und.join(deg, "a").localCheckpoint()
      var rank = deg.select($"a".as("v"), lit(1000000L).as("rank"))
      (1 to iters).foreach { _ =>
        rank = edges.join(rank, edges("a") === rank("v"))
          .select($"b", expr("rank div deg").as("c"))
          .groupBy($"b").agg(sum($"c").as("in"))
          .select($"b".as("v"), expr("150000L + (85 * `in`) div 100").as("rank"))
          .localCheckpoint()
      }
      rank.select($"v".as("vec_id"), $"rank".as("rank_micro"))
    }
  }

  val pageRank: Q = Q(
    "vector_pagerank",
    (s, dir) => {
      import s.implicits._
      val m = mutualKnnEdges(s, dir).select($"a", $"b")
      pageRankWalk(s, m.union(m.select($"b".as("a"), $"a".as("b"))))
        .orderBy($"vec_id")
    },
    Some {
      val iters = (1 to 10).map { k =>
        s"""r$k AS (SELECT ed.b v,
           |          CAST(150000 + (85 * SUM(r${k - 1}.rank // ed.deg)) // 100 AS BIGINT) rank
           |        FROM ed JOIN r${k - 1} ON ed.a = r${k - 1}.v GROUP BY ed.b)""".stripMargin
      }.mkString(",\n      ")
      s"""
      WITH $mutualKnnSql,
      und AS (SELECT a, b FROM m UNION ALL SELECT b, a FROM m),
      d AS (SELECT a, COUNT(*) deg FROM und GROUP BY a),
      ed AS (SELECT u.a, u.b, d.deg FROM und u JOIN d USING (a)),
      r0 AS (SELECT a v, CAST(1000000 AS BIGINT) rank FROM d),
      $iters
      SELECT v AS vec_id, rank AS rank_micro FROM r10 ORDER BY vec_id
    """
    }
  )

  /** Coreset manifest: the 2 most CENTRAL vectors per IVF cell by
    * [[pageRank]] centrality — graph-based data pruning's selection
    * rule (keep the representatives that summarize each region of
    * embedding space, drop the redundant mass around them). Vectors
    * with no mutual-kNN edge never rank and never represent.
    *
    * Scale design: the rank table is 16 B/vertex and the per-cell
    * top-2 is a cell-partitioned window with map-side WindowGroupLimit
    * pruning — after the (already-bounded) PageRank job this stage
    * adds ONE small exchange on cell. */
  val coreset: Q = Q(
    "vector_coreset",
    (s, dir) => {
      import s.implicits._
      val ranks = pageRank.run(s, dir)
      // the SAME resolved cell count as the kNN graph the ranks come
      // from — two cell systems in one manifest would be incoherent
      val cells = ivfFlatAssign(s, dir, knnCells(s, dir))._1.select($"vec_id", $"cell")
      val w = Window.partitionBy($"cell").orderBy($"rank_micro".desc, $"vec_id")
      ranks.join(cells, "vec_id")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 2)
        .select($"cell", $"rn", $"vec_id", $"rank_micro")
        .orderBy($"cell", $"rn")
    },
    Some {
      val iters = (1 to 10).map { k =>
        s"""r$k AS (SELECT ed.b v,
           |          CAST(150000 + (85 * SUM(r${k - 1}.rank // ed.deg)) // 100 AS BIGINT) rank
           |        FROM ed JOIN r${k - 1} ON ed.a = r${k - 1}.v GROUP BY ed.b)""".stripMargin
      }.mkString(",\n      ")
      s"""
      WITH $mutualKnnSql,
      und AS (SELECT a, b FROM m UNION ALL SELECT b, a FROM m),
      d AS (SELECT a, COUNT(*) deg FROM und GROUP BY a),
      ed AS (SELECT u.a, u.b, d.deg FROM und u JOIN d USING (a)),
      r0 AS (SELECT a v, CAST(1000000 AS BIGINT) rank FROM d),
      $iters,
      ranked AS (
        SELECT assign.cell, r10.v vec_id, r10.rank rank_micro,
               ROW_NUMBER() OVER (PARTITION BY assign.cell
                                  ORDER BY r10.rank DESC, r10.v) rn
        FROM r10 JOIN assign ON assign.vec_id = r10.v
      )
      SELECT cell, CAST(rn AS INT) rn, vec_id, rank_micro
      FROM ranked WHERE rn <= 2 ORDER BY cell, rn
    """
    }
  )

  /** ANN SERVE WITH THE RETRAINED CODEBOOK — the swap-in
    * [[ivfRetrain]]'s scaladoc promises: one Lloyd round's centroids
    * replace the content-addressed codebook, the corpus re-assigns, and
    * the SAME probe→candidates→top-k serving shape as [[annIvfFlat]]
    * answers the 8 fixture queries — the full loop (profile detects →
    * retrain moves the centroids → serving actually uses them) as one
    * deterministic, fully-oracled chain. Probe scores against the
    * exact-integer retrained centroids keep the [[ivfRetrainProfile]]
    * parity argument; candidate cosines are the raw-double
    * [[annIvfFlat]] shape (identical fold both engines).
    *
    * THE MEASURED LESSON ([[recallEval]] carries this path as
    * `ivf_retrained`): on the ISOTROPIC fixture the retrained serve's
    * recall@10 is 212,500 µ vs the content-addressed codebook's
    * 875,000 µ at the same nprobe=2 — rebalancing cell POPULATIONS
    * (what the retrain optimizes) scatters true neighbors across more
    * cells when the data has no cluster structure to find. Retraining
    * is for load breaches on CLUSTERED drift; the recall row is the
    * gate a deployment must pass before swapping the codebook in —
    * which is exactly why the eval exists as a catalog query.
    *
    * Scale shape: [[annIvfFlat]]'s serve economics on top of
    * [[ivfRetrainAssign]]'s one extra broadcast-codebook pass —
    * nothing new shuffles. */
  /** [[annIvfRetrained]]'s body over explicit (normed, coarse-assign)
    * bases — shared with [[recallEvalMembers]]. */
  private def annIvfRetrainedOf(
      s: SparkSession, e: DataFrame, ac: (DataFrame, DataFrame)): DataFrame = {
    import s.implicits._
    val (as2, cents2) = ivfRetrainAssign(s, ac._1)
    val assigned2 = e.join(as2, "vec_id")
    val q = assigned2.filter($"vec_id" < 8)
      .select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qnrm"))
    serveCandidates(s, assigned2, probeCells(s, q, cents2, 2), 10)
  }

  val annIvfRetrained: Q = Q(
    "vector_ann_ivf_retrained",
    (s, dir) => {
      // one normed base for the serve frame AND the coarse assignment
      // (the standalone body used to build it twice)
      val e = normed(s, dir)
      annIvfRetrainedOf(s, e, ivfFlatAssignFrom(s, e))
    },
    Some("""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
                 FROM embeddings),
      n AS (SELECT vec_id, v,
              sqrt(list_reduce(list_transform(list_zip(v, v), s -> s[1]*s[2]), (a, b) -> a + b)) nrm
            FROM e),
      cents AS (SELECT CAST(vec_id AS INT) AS cell, v AS cvec FROM n WHERE vec_id < 16),
      sc AS (SELECT n.vec_id, cell,
               list_reduce(list_transform(list_zip(cvec, cvec), s -> s[1]*s[2]), (x, y) -> x + y)
                 - 2.0 * list_reduce(list_transform(list_zip(v, cvec), s -> s[1]*s[2]), (x, y) -> x + y)
                 AS score
             FROM n, cents),
      assign AS (SELECT vec_id, cell FROM (
                   SELECT vec_id, cell,
                          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, cell) rn
                   FROM sc) WHERE rn = 1),
      vq AS (SELECT vec_id,
               list_transform(embedding, x -> CAST(ROUND(1000000 * CAST(x AS DOUBLE)) AS BIGINT)) q
             FROM embeddings),
      xp AS (SELECT a.cell, unnest(q) x, generate_subscripts(q, 1) pos
             FROM assign a JOIN vq USING (vec_id)),
      cm AS (SELECT cell, pos, SUM(x) // COUNT(*) m FROM xp GROUP BY 1, 2),
      c2 AS (SELECT cell, list(CAST(m AS DOUBLE) ORDER BY pos) cvec2 FROM cm GROUP BY 1),
      vd AS (SELECT vec_id, list_transform(q, x -> CAST(x AS DOUBLE)) dv FROM vq),
      sc2 AS (SELECT v.vec_id, c.cell,
                list_reduce(list_transform(list_zip(cvec2, cvec2), s -> s[1]*s[2]), (x, y) -> x + y)
                  - 2.0 * list_reduce(list_transform(list_zip(dv, cvec2), s -> s[1]*s[2]), (x, y) -> x + y)
                  AS score
              FROM vd v, c2 c),
      as2 AS (SELECT vec_id, cell FROM (
                SELECT vec_id, cell,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, cell) rn
                FROM sc2) WHERE rn = 1),
      qs AS (SELECT vec_id qid, v qv, nrm qnrm FROM n WHERE vec_id < 8),
      qsc AS (SELECT qid, qv, qnrm, cell,
                list_reduce(list_transform(list_zip(cvec2, cvec2), s -> s[1]*s[2]), (x, y) -> x + y)
                  - 2.0 * list_reduce(list_transform(list_zip(qv, cvec2), s -> s[1]*s[2]), (x, y) -> x + y)
                  AS score
              FROM qs, c2),
      probes AS (SELECT qid, qv, qnrm, cell FROM (
                   SELECT qid, qv, qnrm, cell,
                          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score, cell) pr
                   FROM qsc) WHERE pr <= 2),
      cand AS (SELECT p.qid, a.vec_id,
                 list_reduce(list_transform(list_zip(p.qv, n.v), s -> s[1]*s[2]), (x, y) -> x + y)
                   / (p.qnrm * n.nrm) AS cos
               FROM probes p JOIN as2 a USING (cell) JOIN n ON n.vec_id = a.vec_id
               WHERE a.vec_id <> p.qid),
      r AS (SELECT qid, vec_id, cos,
              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) rn
            FROM cand)
      SELECT qid, rn, vec_id, cos FROM r WHERE rn <= 10 ORDER BY qid, rn
    """)
  )

  /** PQ SUB-CODEBOOK RE-TRAIN — [[ivfRetrain]]'s discipline applied to
    * the product quantizer: per subspace m (8 × 8-dim), the
    * content-addressed sub-codebook (first-16 subvectors) is
    * re-estimated as the truncating integer-micro mean of each code's
    * assigned subvectors, everything re-encodes, and the report is the
    * per-subspace QUANTIZATION ERROR the retrain exists to shrink —
    * SSE in exact integer micro² (per-row ≤ 1.2·10¹⁵ in int64, corpus
    * sums in decimal(38,0)/HUGEINT — the events_outliers 128-bit
    * contract — then one truncating ÷10⁶ to a reportable BIGINT).
    * Mean re-estimation cannot raise a fixed assignment's SSE and
    * re-encoding only lowers it further, so sse_after ≤ sse_before up
    * to the ±1-micro truncation wobble (VectorSpec asserts strict
    * improvement on the fixture, every subspace).
    *
    * Scale shape: subvector slicing is stateless; both encodes are
    * broadcast scans of 128-row sub-codebooks folded by per-(vec, m)
    * min-struct partials; the retrained codebook is a
    * (m, code, pos)-keyed partial agg over ≤ 8·16·8 groups; the final
    * report is 8 rows. */
  val pqRetrain: Q = Q(
    "vector_pq_retrain",
    (s, dir) => {
      import s.implicits._
      val eq = normed(s, dir).select($"vec_id",
        expr("transform(v, x -> CAST(round(1000000 * x) AS BIGINT))").as("vq"))
        .localCheckpoint()   // scanned by both encodes and the codebook build
      // encode = collected-broadcast mapPartitions kernel, NOT a
      // relational min(struct): Catalyst plans struct-min as
      // SortAggregate with the interpreted zip_with distance inlined
      // into the sort producer — the measured round-9 single-thread
      // trap pqEncode documents. Arithmetic is exact Long; ties break
      // to the lower code (ascending scan, strict <) — the oracle's
      // ORDER BY d, code.
      def encode(cbByM: Array[Array[(Int, Array[Long])]]): DataFrame = {
        val bc = s.sparkContext.broadcast(cbByM)
        eq.select($"vec_id", $"vq").as[(Long, Seq[Long])]
          .mapPartitions { it =>
            val cb = bc.value
            it.flatMap { case (id, vSeq) =>
              val v = vSeq.toArray
              (0 until 8).iterator.map { m =>
                val entries = cb(m)
                var best = -1
                var bestD = Long.MaxValue
                var j = 0
                while (j < entries.length) {
                  val c = entries(j)._2
                  var d = 0L
                  var i = 0
                  while (i < 8) { val x = v(m * 8 + i) - c(i); d += x * x; i += 1 }
                  if (d < bestD) { bestD = d; best = entries(j)._1 }
                  j += 1
                }
                (id, m, best, bestD)
              }
            }
          }.toDF("vec_id", "m", "code", "d")
      }
      def collectCb(df: DataFrame): Array[Array[(Int, Array[Long])]] = {
        val rows = df.select($"m", $"code", $"csv").as[(Int, Int, Seq[Long])]
          .collect()
        (0 until 8).map { m =>
          rows.filter(_._1 == m).sortBy(_._2).map(r => (r._2, r._3.toArray)).toArray
        }.toArray
      }
      val ms = (0 until 8).map(lit(_))
      val sub = eq.select($"vec_id", explode(array(ms: _*)).as("m"), $"vq")
        .select($"vec_id", $"m", expr("slice(vq, m * 8 + 1, 8)").as("sv"))
      val cb0 = collectCb(sub.filter($"vec_id" < 16)
        .select($"m", $"vec_id".cast("int").as("code"), $"sv".as("csv")))
      val enc0 = encode(cb0).localCheckpoint()  // feeds the report AND cb1
      val cb1 = collectCb(enc0.join(sub, Seq("vec_id", "m"))
        .select($"m", $"code", posexplode($"sv").as(Seq("pos", "x")))
        .groupBy($"m", $"code", $"pos")
        .agg(expr("sum(x) div count(1)").as("c"))
        .groupBy($"m", $"code")
        .agg(array_sort(collect_list(struct($"pos", $"c"))).as("pc"))
        .select($"m", $"code", expr("transform(pc, p -> p.c)").as("csv")))
      val enc1 = encode(cb1)
      def report(enc: DataFrame, codesName: String, sseName: String) =
        enc.groupBy($"m").agg(
          countDistinct($"code").as(codesName),
          expr("CAST(floor(sum(CAST(d AS DECIMAL(38,0))) / 1000000) AS BIGINT)")
            .as(sseName))
      report(enc0, "codes_before", "sse_before")
        .join(report(enc1, "codes_after", "sse_after"), Seq("m"))
        .select($"m".cast("long").as("m"), $"codes_before", $"codes_after",
          $"sse_before", $"sse_after")
        .orderBy($"m")
    },
    Some("""
      WITH e AS (SELECT vec_id,
                   list_transform(embedding, x -> CAST(ROUND(1000000 * CAST(x AS DOUBLE)) AS BIGINT)) vq
                 FROM embeddings),
      sub AS (SELECT vec_id, m, vq[m * 8 + 1 : m * 8 + 8] AS sv
              FROM e, range(8) t(m)),
      cb0 AS (SELECT m, CAST(vec_id AS INT) AS code, sv AS csv
              FROM sub WHERE vec_id < 16),
      enc0 AS (
        SELECT vec_id, m, code, d FROM (
          SELECT s.vec_id, s.m, c.code,
                 list_reduce(list_transform(list_zip(s.sv, c.csv),
                   p -> (p[1] - p[2]) * (p[1] - p[2])), (a, b) -> a + b) d,
                 ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY
                   list_reduce(list_transform(list_zip(s.sv, c.csv),
                     p -> (p[1] - p[2]) * (p[1] - p[2])), (a, b) -> a + b), c.code) rn
          FROM sub s JOIN cb0 c USING (m))
        WHERE rn = 1
      ),
      xp AS (SELECT e0.m, e0.code, unnest(s.sv) x, generate_subscripts(s.sv, 1) pos
             FROM enc0 e0 JOIN sub s ON s.vec_id = e0.vec_id AND s.m = e0.m),
      cm AS (SELECT m, code, pos, SUM(x) // COUNT(*) c FROM xp GROUP BY 1, 2, 3),
      cb1 AS (SELECT m, code, list(c ORDER BY pos) AS csv FROM cm GROUP BY 1, 2),
      enc1 AS (
        SELECT vec_id, m, code, d FROM (
          SELECT s.vec_id, s.m, c.code,
                 list_reduce(list_transform(list_zip(s.sv, c.csv),
                   p -> (p[1] - p[2]) * (p[1] - p[2])), (a, b) -> a + b) d,
                 ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY
                   list_reduce(list_transform(list_zip(s.sv, c.csv),
                     p -> (p[1] - p[2]) * (p[1] - p[2])), (a, b) -> a + b), c.code) rn
          FROM sub s JOIN cb1 c USING (m))
        WHERE rn = 1
      ),
      r0 AS (SELECT m, COUNT(DISTINCT code) codes_before,
               CAST(SUM(CAST(d AS HUGEINT)) // 1000000 AS BIGINT) sse_before
             FROM enc0 GROUP BY 1),
      r1 AS (SELECT m, COUNT(DISTINCT code) codes_after,
               CAST(SUM(CAST(d AS HUGEINT)) // 1000000 AS BIGINT) sse_after
             FROM enc1 GROUP BY 1)
      SELECT CAST(m AS BIGINT) m,
             CAST(codes_before AS BIGINT) codes_before,
             CAST(codes_after AS BIGINT) codes_after,
             sse_before, sse_after
      FROM r0 JOIN r1 USING (m)
      ORDER BY m
    """)
  )


  /** ANN QUALITY EVALUATION as a first-class operator: recall@10 of
    * each approximate path (IVF-flat, multiprobe LSH) against the
    * exact brute-force answer, per method — "measure, don't guess" as
    * a catalog query a pipeline can schedule after every index
    * rebuild. Recall is reported in exact integer micro-units
    * ((10⁶·hits) DIV |exact|, the true recall denominator — dividing
    * by the approximate side's own row count would overstate recall
    * whenever an ANN path serves fewer than k rows per query, e.g.
    * sparse IVF cells; `served` stays in the row so that gap is
    * visible too), so the row is hash-stable.
    *
    * Scale design: the approx→exact comparison is a semi-join on
    * (qid, vec_id) over TOP-K-SIZED frames (k rows per query per
    * method — never corpus-sized); the expensive inputs are the
    * searches themselves, each already bounded by its own path's
    * economics. At production scale the exact side comes from a held-
    * out query sample, which is exactly the fixture's shape (8 probe
    * queries). */
  /** Shared per-INVOCATION bases for the eval members (round-20,
    * verdict item 1): one [[normed]] corpus and one checkpointed
    * coarse IVF assignment per eval, where each member used to
    * rebuild its own (the full eval built `normed` 7× and the
    * 16-centroid argmin 3×). In-query reuse only — the bases live
    * inside a single query invocation and every invocation computes
    * them from the parquet afresh; nothing crosses runs. Lazy vals:
    * only members that need a base trigger it, lazy-init
    * synchronization makes parallel member futures share one build,
    * and the eager localCheckpoint inside the init IS the
    * materialization barrier the members previously each paid. */
  private[operators] final class EvalBases(s: SparkSession, dir: String) {
    lazy val e: DataFrame = normed(s, dir)
    lazy val assigned: (DataFrame, DataFrame) = {
      val (a, c) = ivfFlatAssignFrom(s, e)
      (a.localCheckpoint(), c)
    }
  }

  /** the eval member catalog over shared bases — each entry computes
    * rows identical to its standalone catalog query (the same
    * expressions over the same deterministic bases; the standalone Q
    * bodies delegate to the same Of/From-suffixed helpers). */
  private[operators] def evalMember(
      s: SparkSession, name: String): EvalBases => DataFrame = name match {
    case "ivf_flat" => b => rankTopK(s, ivfFlatCandidatesOf(s, b.assigned), 10)
    case "ivf_retrained" => b => annIvfRetrainedOf(s, b.e, b.assigned)
    case "ivfpq" => b => annIvfPqOf(s, b.assigned._1, b.assigned._2)
    case "lsh" => b => rankTopK(s, lshCandidatesFrom(s, b.e), 10)
    case "pq_adc" => b => pqAdcFrom(s, b.e)
    case other => throw new IllegalArgumentException(s"unknown eval member: $other")
  }

  /** the eval body over an explicit member list — each member's
    * recall row is independent (hits vs the same exact frame), so a
    * SUBSET computes values identical to the full eval's rows for
    * those members; [[retrainGate]] uses this to price only the two
    * methods its decision reads instead of re-running all five. */
  private def recallEvalMembers(s: SparkSession, dir: String,
      members: Seq[String]): DataFrame = {
    import s.implicits._
    // the searches are independent jobs — submit them CONCURRENTLY
    // (Spark schedules jobs from multiple threads onto the same
    // executors); they serialized on their localCheckpoint barriers
    // before, ~4 s of pure queueing at fixture scale. The result is
    // order-fixed by the method sequence, so the union is
    // deterministic regardless of completion order. The EXACT side
    // rides its own future created FIRST (guide §2.6 overlap): built
    // inline it ran its barrier jobs before any member started.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val bases = new EvalBases(s, dir)
    bases.e   // build the shared corpus base before the futures race on it
    val exactF =
      Future(topKFrom(s, bases.e).select($"qid", $"vec_id").localCheckpoint())
    val memberFs = members.map { name =>
      name -> Future(
        evalMember(s, name)(bases).select($"qid", $"vec_id").localCheckpoint())
    }
    val exact = Await.result(exactF, Duration.Inf)
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    memberFs
      .map { case (name, f) =>
        val approx = Await.result(f, Duration.Inf)
        val served = approx.agg(count(lit(1)).as("served"))
        val hits = approx.join(exact, Seq("qid", "vec_id"), "left_semi")
          .agg(count(lit(1)).as("hits"))
        hits.crossJoin(served).crossJoin(nExact)
          .select(lit(name).as("ann_method"), $"hits", $"served",
            expr("(1000000 * hits) div n_exact").as("recall_micro"))
      }.reduce(_ union _).orderBy($"ann_method")
  }

  val recallEval: Q = Q(
    "vector_recall_eval",
    (s, dir) => recallEvalMembers(s, dir,
      Seq("ivf_flat", "ivf_retrained", "ivfpq", "lsh", "pq_adc")),
    Some {
      val methods = Seq(
        "ivf_flat" -> annIvfFlat.oracle.get,
        "ivf_retrained" -> annIvfRetrained.oracle.get,
        "ivfpq" -> annIvfPq.oracle.get,
        "lsh" -> annLshOracleSql,
        "pq_adc" -> pqAdc.oracle.get)
      val ctes = methods.map { case (n, sql) => s"m_$n AS ($sql)" }.mkString(",\n      ")
      val branches = methods.map { case (n, _) =>
        s"""SELECT '$n' ann_method, COUNT(*) hits,
           |               (SELECT COUNT(*) FROM m_$n) served
           |        FROM m_$n JOIN exact USING (qid, vec_id)""".stripMargin
      }.mkString("\n        UNION ALL\n        ")
      s"""
      WITH exact AS (${topK.oracle.get}),
      $ctes,
      h AS (
        $branches
      )
      SELECT ann_method, CAST(hits AS BIGINT) hits, CAST(served AS BIGINT) served,
             CAST((1000000 * hits) // (SELECT COUNT(*) FROM exact) AS BIGINT) recall_micro
      FROM h ORDER BY ann_method
    """
    }
  )

  /** MMR (maximal-marginal-relevance) diversity re-rank: from each
    * query's top-20 cosine candidates, greedily select 5 maximizing
    * λ·rel − (1−λ)·redundancy (λ=0.7, redundancy = max cosine to the
    * already-selected set) — the serving-side re-rank that stops a RAG
    * retriever returning five paraphrases of one document. All scores
    * are EXACT INTEGER micro-units (cosines micro-rounded once, then
    * score = 7·rel − 3·maxRed in 10×micro units), so the greedy
    * argmax ties deterministically on vec_id and both engines select
    * identical sets.
    *
    * Scale design: the greedy loop runs over TOP-K-SIZED frames only —
    * 20 candidates per query, 20×20 pairwise cosines per query (the
    * corpus is touched once, by the candidate search itself); each of
    * the 5 unrolled steps is a selected×remaining join + one
    * qid-partitioned argmax window over ≤20-row groups. */
  val mmrRerank: Q = mmrQ("vector_mmr_rerank", None, None)

  /** MMR over an ADMITTED-RESTRICTED corpus — the batch twin of the
    * chain-restricted serves ([[graft.streaming.MmrServeStream]]
    * `serveCorpus` / `serveChainRefreshed`): candidates come only from
    * vectors whose id is in the admitted manifest, so a query can
    * never retrieve a document curation/dedup/budget rejected. The
    * manifest here is the content-addressed synthetic `vec_id % 3 = 0`
    * (deterministic, so the restriction DISCIPLINE is fully oracled:
    * the queries stay the full-table set while only admitted ids may
    * appear in any step, and scores re-rank over the restricted
    * candidate pool — different picks than the unrestricted operator,
    * not a post-filter of them). Scale shape unchanged: the
    * restriction is a filter BEFORE the top-k candidate build, so the
    * per-query frames shrink to the admitted fraction — exactly the
    * semi-join placement the streaming serves use. */
  val mmrAdmitted: Q = mmrQ("vector_mmr_admitted",
    Some(org.apache.spark.sql.functions.col("vec_id") % 3 === 0),
    Some("AND (vec_id % 3 = 0)"))

  /** the MMR diversity re-rank, parameterized by an optional
    * admitted-corpus restriction on the CANDIDATE side (queries always
    * come from the full table). */
  private def mmrQ(name: String,
      restrictSpark: Option[org.apache.spark.sql.Column],
      restrictSql: Option[String]): Q = Q(
    name,
    (s, dir) => {
      import s.implicits._
      val e = normed(s, dir)
      val eCand = restrictSpark.fold(e)(e.filter)
      val cand20 = rankTopK(s,
        eCand.join(broadcast(
          e.filter($"vec_id" < 8)
            .select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qnrm"))),
          $"vec_id" =!= $"qid")
          .select($"qid", $"vec_id",
            (dot_product($"qv", $"v") / ($"qnrm" * $"nrm")).as("cos")), 20)
        .select($"qid", $"vec_id",
          expr("cast(round(1e6 * cos) as bigint)").as("rel"))
        .localCheckpoint()
      // pairwise candidate-candidate micro-cosines, per query
      val cv = cand20.join(e.select($"vec_id", $"v", $"nrm"), "vec_id")
        .select($"qid", $"vec_id", $"v", $"nrm").localCheckpoint()
      val pairs = cv.select($"qid", $"vec_id".as("a"), $"v".as("va"), $"nrm".as("na"))
        .join(cv.select($"qid", $"vec_id".as("b"), $"v".as("vb"), $"nrm".as("nb")), "qid")
        .filter($"a" =!= $"b")
        .select($"qid", $"a", $"b",
          round(lit(1e6) * (dot_product($"va", $"vb") / ($"na" * $"nb")))
            .cast("long").as("cc"))
      // greedy selection as ONE per-query integer kernel (guide §1.2
      // per-task work, §2.4 remove shuffles): the unrolled 5-step
      // dataframe form paid ~25 exchanges and 5 checkpoint barriers on
      // ≤160-row frames — pure fixed overhead at EVERY scale, because
      // the per-query frames are top-k-sized by construction. The
      // micro-unit scores (rel, cc) still come from the exact SAME
      // dataframe expressions, so the in-kernel greedy — pure Long
      // arithmetic with the same (score desc, vec_id asc) tie-break —
      // reproduces the unrolled form's picks bit-for-bit (shared
      // DuckDB oracle + VectorSpec gate it).
      val candArr = cand20.groupBy($"qid")
        .agg(collect_list(struct($"vec_id", $"rel")).as("cands"))
      val pairArr = pairs.groupBy($"qid")
        .agg(collect_list(struct($"a", $"b", $"cc")).as("ccs"))
      candArr.join(pairArr, Seq("qid"), "left")
        .select($"qid", $"cands", $"ccs")
        .as[(Long, Seq[(Long, Long)], Option[Seq[(Long, Long, Long)]])]
        .flatMap { case (qid, cands, ccsOpt) =>
          val cc = ccsOpt.getOrElse(Nil)
            .iterator.map { case (a, b, c) => (a, b) -> c }.toMap
          val picks = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long)]
          val chosen = scala.collection.mutable.Set.empty[Long]
          (1 to 5).foreach { step =>
            val scoredRem = cands.iterator
              .filterNot { case (vid, _) => chosen(vid) }
              .map { case (vid, rel) =>
                if (step == 1) (vid, rel * 10L)
                else {
                  // max cosine to the already-selected set; a candidate
                  // always has pair rows to selected ⊆ candidates, the
                  // 0-default mirrors the unrolled form's coalesce
                  val maxRed = picks.iterator
                    .map { case (sel, _, _) => cc.getOrElse((vid, sel), Long.MinValue) }
                    .foldLeft(Long.MinValue)(math.max)
                  (vid, rel * 7L - (if (maxRed == Long.MinValue) 0L else maxRed) * 3L)
                }
              }.toSeq
            if (scoredRem.nonEmpty) {
              val (vid, sc) = scoredRem.minBy { case (v, s) => (-s, v) }
              chosen += vid
              picks += ((vid, step, sc))
            }
          }
          picks.iterator.map { case (vid, step, sc) => (qid, vid, step, sc) }
        }
        .toDF("qid", "vec_id", "step", "mmr_score")
        .orderBy($"qid", $"step")
    },
    Some {
      val steps = (2 to 5).map { k =>
        s"""sel$k AS (
           |  SELECT qid, vec_id, $k stp, score FROM (
           |    SELECT r.qid, r.vec_id, 7 * r.rel - 3 * COALESCE(mr.max_red, 0) score,
           |           ROW_NUMBER() OVER (PARTITION BY r.qid
           |             ORDER BY 7 * r.rel - 3 * COALESCE(mr.max_red, 0) DESC, r.vec_id) rk
           |    FROM c20 r
           |    LEFT JOIN (SELECT p.qid, p.a vec_id, MAX(p.cc) max_red
           |               FROM prs p JOIN acc${k - 1} s ON s.qid = p.qid AND s.vec_id = p.b
           |               GROUP BY p.qid, p.a) mr
           |      ON mr.qid = r.qid AND mr.vec_id = r.vec_id
           |    WHERE NOT EXISTS (SELECT 1 FROM acc${k - 1} s
           |                      WHERE s.qid = r.qid AND s.vec_id = r.vec_id)
           |  ) WHERE rk = 1
           |),
           |acc$k AS (SELECT qid, vec_id, stp, score FROM acc${k - 1}
           |          UNION ALL SELECT qid, vec_id, stp, score FROM sel$k)""".stripMargin
      }.mkString(",\n      ")
      s"""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
                 FROM embeddings),
      n AS (SELECT vec_id, v,
              sqrt(list_reduce(list_transform(list_zip(v, v), s -> s[1]*s[2]), (a, b) -> a + b)) nrm
            FROM e),
      qs AS (SELECT vec_id qid, v qv, nrm qnrm FROM n WHERE vec_id < 8),
      p AS (SELECT qid, vec_id,
              list_reduce(list_transform(list_zip(qv, v), s -> s[1]*s[2]), (x, y) -> x + y)
                / (qnrm * nrm) AS cos
            FROM qs, n WHERE vec_id <> qid ${restrictSql.getOrElse("")}),
      c20 AS (SELECT qid, vec_id, CAST(ROUND(1e6 * cos) AS BIGINT) rel FROM (
                SELECT qid, vec_id, cos,
                       ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) rn
                FROM p) WHERE rn <= 20),
      cv AS (SELECT c.qid, c.vec_id, n.v, n.nrm FROM c20 c JOIN n USING (vec_id)),
      prs AS (SELECT x.qid, x.vec_id a, y.vec_id b,
                CAST(ROUND(1e6 * (
                  list_reduce(list_transform(list_zip(x.v, y.v), s -> s[1]*s[2]), (q, r) -> q + r)
                    / (x.nrm * y.nrm))) AS BIGINT) cc
              FROM cv x JOIN cv y ON x.qid = y.qid AND x.vec_id <> y.vec_id),
      acc1 AS (SELECT qid, vec_id, 1 stp, rel * 10 score FROM (
                 SELECT qid, vec_id, rel,
                        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC, vec_id) rk
                 FROM c20) WHERE rk = 1),
      $steps
      SELECT qid, vec_id, CAST(stp AS INT) step, CAST(score AS BIGINT) mmr_score
      FROM acc5 ORDER BY qid, step
    """
    }
  )

  /** MATRYOSHKA PREFIX-DIMENSION retrieval eval: recall@10 of ranking
    * by the first 16 of 64 dimensions against the full-dimension
    * answer, per query — the measurement an MRL-style deployment runs
    * before serving truncated embeddings (4× less memory and
    * bandwidth; how much recall does the prefix keep). Both rankings
    * are computed with the engine's own identical float shapes (the
    * [[topK]] parity), so the SETS are engine-identical and the
    * per-query hit counts hash-exact; recall is integer micro-units.
    * On the ISOTROPIC fixture embeddings the prefix keeps only
    * 10–30% — the correct readout for vectors with no MRL training
    * (information is spread evenly across dimensions), which is
    * precisely the don't-truncate-these signal the eval exists to
    * give; MRL-trained embeddings front-load variance and read high.
    *
    * Scale shape: the prefix ranking scans slice(v, 1, 16) — the scan
    * and the dot products shrink with the prefix, which is the point;
    * the hit comparison is a semi-join over top-k-SIZED frames (the
    * [[recallEval]] economics). */
  val matryoshkaEval: Q = Q(
    "vector_matryoshka_eval",
    (s, dir) => {
      import s.implicits._
      val k = 10
      val pre = normed(s, dir)
        .select($"vec_id", slice($"v", 1, 16).as("v"))
        .withColumn("nrm", sqrt(dot_product($"v", $"v")))
      val scored = pre.join(broadcast(
          pre.filter($"vec_id" < 8)
            .select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qnrm"))),
          $"vec_id" =!= $"qid")
        .select($"qid", $"vec_id",
          (dot_product($"qv", $"v") / ($"qnrm" * $"nrm")).as("cos"))
      val prefix10 = rankTopK(s, scored, k).select($"qid", $"vec_id")
      val full10 = topK.run(s, dir).select($"qid", $"vec_id")
      val hits = prefix10.join(full10, Seq("qid", "vec_id"), "left_semi")
        .groupBy($"qid").agg(count(lit(1)).as("hits"))
      full10.select($"qid").distinct()
        .join(hits, Seq("qid"), "left")
        .select($"qid", coalesce($"hits", lit(0L)).as("hits"),
          expr(s"(1000000 * coalesce(hits, 0L)) div $k").as("recall_micro"))
        .orderBy($"qid")
    },
    Some {
      s"""
      WITH full_r AS (${topK.oracle.get}),
      pe AS (SELECT vec_id, list_transform(embedding[1:16], x -> CAST(x AS DOUBLE)) v
             FROM embeddings),
      pn AS (SELECT vec_id, v,
               sqrt(list_reduce(list_transform(list_zip(v, v), s -> s[1]*s[2]), (a, b) -> a + b)) nrm
             FROM pe),
      pqs AS (SELECT vec_id qid, v qv, nrm qnrm FROM pn WHERE vec_id < 8),
      pp AS (SELECT qid, vec_id,
               list_reduce(list_transform(list_zip(qv, v), s -> s[1]*s[2]), (x, y) -> x + y)
                 / (qnrm * nrm) AS cos
             FROM pqs, pn WHERE vec_id <> qid),
      pr AS (SELECT qid, vec_id FROM (
               SELECT qid, vec_id,
                      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) rn
               FROM pp) WHERE rn <= 10),
      h AS (SELECT pr.qid, COUNT(*) hits
            FROM pr JOIN full_r f ON f.qid = pr.qid AND f.vec_id = pr.vec_id
            GROUP BY 1)
      SELECT q.qid, CAST(COALESCE(hits, 0) AS BIGINT) hits,
             CAST((1000000 * COALESCE(hits, 0)) // 10 AS BIGINT) recall_micro
      FROM (SELECT DISTINCT qid FROM full_r) q
      LEFT JOIN h USING (qid)
      ORDER BY qid
    """
    }
  )

  /** EMBEDDING CENTROID DRIFT between snapshot versions: the cosine
    * between the v1 and v2 mean vectors (the md5-bucket version
    * derivation, [[graft.operators.Pipeline]] snapshot-diff
    * discipline) — the "did the new encoder/refresh move the
    * embedding space" monitor a vector pipeline runs before reusing
    * centroids, IVF cells, or PQ codebooks trained on the old
    * snapshot. Parity: each component is MICRO-QUANTIZED once
    * (round(10⁶·x), identical shape), per-dimension totals are then
    * EXACT int64 sums — order-independent where raw double sums would
    * hash-differ under parallel aggregation — and the closing cosine
    * folds the two exact integer sum-vectors with the engines'
    * identical sequential shape, micro-rounded once.
    *
    * Scale shape: one posexplode + one (version, dim)-keyed
    * partial-aggregated exchange (128 groups total); the cosine runs
    * on two 64-long arrays. */
  val centroidDrift: Q = Q(
    "vector_centroid_drift",
    (s, dir) => {
      import s.implicits._
      val e = Tables.load(s, dir, "embeddings")
      val bk = substring(md5($"vec_id".cast("string")), 1, 1)
      def sums(df: DataFrame) = df
        .select(posexplode(expr(
          "transform(embedding, x -> CAST(ROUND(1000000 * CAST(x AS DOUBLE)) AS BIGINT))"))
          .as(Seq("pos", "q")))
        .groupBy($"pos").agg(sum($"q").as("sq"))
        .agg(array_sort(collect_list(struct($"pos", $"sq"))).as("ps"))
        .select(expr("transform(ps, p -> CAST(p.sq AS DOUBLE))").as("v"))
      val v1 = e.filter(bk =!= "f")
      val v2 = e.filter(bk =!= "0")
      val n1 = v1.agg(count(lit(1)).as("n1"))
      val n2 = v2.agg(count(lit(1)).as("n2"))
      sums(v1).select($"v".as("a")).crossJoin(sums(v2).select($"v".as("b")))
        .crossJoin(n1).crossJoin(n2)
        .select($"n1", $"n2",
          round(lit(1e6) * dot_product($"a", $"b") /
            (sqrt(dot_product($"a", $"a")) * sqrt(dot_product($"b", $"b"))))
            .cast("long").as("cos_micro"))
    },
    Some("""
      WITH e AS (
        SELECT vec_id, embedding,
               substring(md5(CAST(vec_id AS VARCHAR)), 1, 1) bk
        FROM embeddings
      ),
      x1 AS (SELECT unnest(list_transform(embedding, x -> CAST(ROUND(1000000 * CAST(x AS DOUBLE)) AS BIGINT))) q,
                    generate_subscripts(embedding, 1) pos
             FROM e WHERE bk <> 'f'),
      x2 AS (SELECT unnest(list_transform(embedding, x -> CAST(ROUND(1000000 * CAST(x AS DOUBLE)) AS BIGINT))) q,
                    generate_subscripts(embedding, 1) pos
             FROM e WHERE bk <> '0'),
      s1 AS (SELECT list(CAST(sq AS DOUBLE) ORDER BY pos) a FROM
               (SELECT pos, SUM(q) sq FROM x1 GROUP BY pos)),
      s2 AS (SELECT list(CAST(sq AS DOUBLE) ORDER BY pos) b FROM
               (SELECT pos, SUM(q) sq FROM x2 GROUP BY pos)),
      c1 AS (SELECT COUNT(*) n1 FROM e WHERE bk <> 'f'),
      c2 AS (SELECT COUNT(*) n2 FROM e WHERE bk <> '0')
      SELECT CAST(n1 AS BIGINT) n1, CAST(n2 AS BIGINT) n2,
             CAST(ROUND(1e6 *
               list_reduce(list_transform(list_zip(a, b), s -> s[1]*s[2]), (x, y) -> x + y) /
               (sqrt(list_reduce(list_transform(list_zip(a, a), s -> s[1]*s[2]), (x, y) -> x + y)) *
                sqrt(list_reduce(list_transform(list_zip(b, b), s -> s[1]*s[2]), (x, y) -> x + y))))
               AS BIGINT) cos_micro
      FROM s1, s2, c1, c2
    """)
  )

  /** IVF CELL-BALANCE PROFILE: per-cell population, corpus share, and
    * load factor (100 = perfectly balanced) — the monitor for the
    * assumption EVERY within-cell operator rests on (kNN graph,
    * semantic dedup, ANN serve: pair volume n²/C holds only while
    * cells stay near-uniform; a hot cell is the vector side's skew
    * problem, and this report is how it gets caught before the n²
    * term does). All integer; one cell-keyed partial agg + broadcast
    * total.
    *
    * The companion dial (`graft.vector.knn.cells=auto`) fixes the
    * GLOBAL population-per-cell; this profile catches the
    * DISTRIBUTIONAL failure auto-sizing can't (all vectors crowding
    * few cells) — the cue to re-train centroids rather than add
    * cells. */
  val cellProfile: Q = Q(
    "vector_cell_profile",
    (s, dir) => {
      import s.implicits._
      val (assigned, _) = ivfFlatAssign(s, dir)
      val per = assigned.groupBy($"cell").agg(count(lit(1)).as("n"))
      val tot = per.agg(sum($"n").as("total"), count(lit(1)).as("n_cells"))
      per.crossJoin(broadcast(tot))
        .select($"cell", $"n",
          expr("(n * 1000000L) div total").as("share_ppm"),
          expr("(n * n_cells * 100L) div total").as("load_factor_pct"))
        .orderBy($"cell")
    },
    Some("""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
                 FROM embeddings),
      n AS (SELECT vec_id, v,
              sqrt(list_reduce(list_transform(list_zip(v, v), s -> s[1]*s[2]), (a, b) -> a + b)) nrm
            FROM e),
      cents AS (SELECT CAST(vec_id AS INT) AS cell, v AS cvec FROM n WHERE vec_id < 16),
      sc AS (SELECT n.vec_id, cell,
               list_reduce(list_transform(list_zip(cvec, cvec), s -> s[1]*s[2]), (x, y) -> x + y)
                 - 2.0 * list_reduce(list_transform(list_zip(v, cvec), s -> s[1]*s[2]), (x, y) -> x + y)
                 AS score
             FROM n, cents),
      assign AS (SELECT vec_id, cell FROM (
                   SELECT vec_id, cell,
                          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, cell) rn
                   FROM sc) WHERE rn = 1),
      per AS (SELECT cell, COUNT(*) n FROM assign GROUP BY 1),
      tot AS (SELECT SUM(n) total, COUNT(*) n_cells FROM per)
      SELECT cell, CAST(n AS BIGINT) n,
             CAST((n * 1000000) // total AS BIGINT) share_ppm,
             CAST((n * n_cells * 100) // total AS BIGINT) load_factor_pct
      FROM per, tot
      ORDER BY cell
    """)
  )

  /** One exact-integer LLOYD ROUND over an existing cell assignment —
    * the retrain action [[cellProfile]]'s load-factor breach calls for
    * (hot cells mean the CENTROIDS are wrong, not the cell count; the
    * `auto` dial only fixes global population-per-cell). Each vector is
    * micro-quantized ONCE (round(10⁶·x) — the [[centroidDrift]]
    * discipline); the retrained centroid of a cell is the truncating
    * per-component integer mean of its members (order-independent,
    * engine-exact); re-assignment scores c·c − 2v·c over the retrained
    * codebook in doubles whose every product (≤ 9·10¹²) and partial sum
    * (≤ 5.8·10¹⁴) is an exactly-representable integer below 2⁵³ — so
    * the whole round is integer arithmetic in disguise and the
    * before/after balance report is hash-exact. A cell nobody chooses
    * after the round reports n_after = 0 (Lloyd's empty-cell death).
    *
    * Scale shape: one posexplode + (cell, pos)-keyed partial agg
    * (C·64 groups) for the means; the re-assign is the same broadcast
    * codebook scan + min-struct fold as [[ivfFlatAssign]] (≤ 1 row per
    * vector crosses the shuffle); profiles are two C-row aggs joined.
    * `assigned` is localCheckpoint'd: it feeds the mean AND the
    * re-assign scan, and lineage truncation keeps CollapseProject from
    * re-inlining the quantization into both consumers. */
  /** One Lloyd round over `assigned` (vec_id, v, cell): returns the
    * re-assignment (vec_id, cell) and the retrained codebook
    * (cell, cvec — integer micro-unit means as exact doubles). Shared
    * by [[ivfRetrainProfile]] (the balance report) and
    * [[annIvfRetrained]] (the serve path that SWAPS the retrained
    * codebook in). */
  private[operators] def ivfRetrainAssign(
      s: SparkSession, assigned: DataFrame): (DataFrame, DataFrame) = {
    import s.implicits._
    val eq = assigned.select($"vec_id", $"cell",
      expr("transform(v, x -> CAST(round(1000000 * x) AS BIGINT))").as("vq"))
      .localCheckpoint()
    val cents2 = eq.select($"cell", posexplode($"vq").as(Seq("pos", "x")))
      .groupBy($"cell", $"pos")
      .agg(expr("sum(x) div count(1)").as("m"))
      .groupBy($"cell")
      .agg(array_sort(collect_list(struct($"pos", $"m"))).as("pm"))
      .select($"cell".as("cell2"), expr("transform(pm, p -> CAST(p.m AS DOUBLE))").as("cvec2"))
    val best2 = eq
      .withColumn("vd", expr("transform(vq, x -> CAST(x AS DOUBLE))"))
      .crossJoin(broadcast(cents2))
      .withColumn("score",
        dot_product($"cvec2", $"cvec2") - lit(2.0) * dot_product($"vd", $"cvec2"))
      .groupBy($"vec_id").agg(min(struct($"score", $"cell2")).as("b"))
      .select($"vec_id", $"b.cell2".as("cell"))
    (best2, cents2.select($"cell2".as("cell"), $"cvec2".as("cvec")))
  }

  private[operators] def ivfRetrainProfile(s: SparkSession, assigned: DataFrame): DataFrame = {
    import s.implicits._
    val (best2, _) = ivfRetrainAssign(s, assigned)
    val before = assigned.groupBy($"cell").agg(count(lit(1)).as("n_before"))
    val after = best2.groupBy($"cell").agg(count(lit(1)).as("n_after"))
    val tot = before.agg(sum($"n_before").as("total"), count(lit(1)).as("n_cells"))
    before.join(after, Seq("cell"), "full_outer")
      .na.fill(0L, Seq("n_before", "n_after"))
      .crossJoin(broadcast(tot))
      .select($"cell", $"n_before", $"n_after",
        expr("(n_before * n_cells * 100L) div total").as("load_before_pct"),
        expr("(n_after * n_cells * 100L) div total").as("load_after_pct"))
      .orderBy($"cell")
  }

  /** IVF centroid RE-TRAIN: [[ivfRetrainProfile]]'s one deterministic
    * Lloyd round applied to the content-addressed codebook's
    * assignment, reported as the before/after cell-balance profile —
    * closing the loop [[cellProfile]] opens (detect the breach →
    * retrain → show the balance moved). The serving path
    * (`vector_ann_ivf_flat`) is untouched: retraining is an offline
    * action whose output codebook a deployment would swap in at the
    * next index build. */
  val ivfRetrain: Q = Q(
    "vector_ivf_retrain",
    (s, dir) => ivfRetrainProfile(s, ivfFlatAssign(s, dir)._1),
    Some("""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
                 FROM embeddings),
      n AS (SELECT vec_id, v,
              sqrt(list_reduce(list_transform(list_zip(v, v), s -> s[1]*s[2]), (a, b) -> a + b)) nrm
            FROM e),
      cents AS (SELECT CAST(vec_id AS INT) AS cell, v AS cvec FROM n WHERE vec_id < 16),
      sc AS (SELECT n.vec_id, cell,
               list_reduce(list_transform(list_zip(cvec, cvec), s -> s[1]*s[2]), (x, y) -> x + y)
                 - 2.0 * list_reduce(list_transform(list_zip(v, cvec), s -> s[1]*s[2]), (x, y) -> x + y)
                 AS score
             FROM n, cents),
      assign AS (SELECT vec_id, cell FROM (
                   SELECT vec_id, cell,
                          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, cell) rn
                   FROM sc) WHERE rn = 1),
      vq AS (SELECT vec_id,
               list_transform(embedding, x -> CAST(ROUND(1000000 * CAST(x AS DOUBLE)) AS BIGINT)) q
             FROM embeddings),
      xp AS (SELECT a.cell, unnest(q) x, generate_subscripts(q, 1) pos
             FROM assign a JOIN vq USING (vec_id)),
      cm AS (SELECT cell, pos, SUM(x) // COUNT(*) m FROM xp GROUP BY 1, 2),
      c2 AS (SELECT cell, list(CAST(m AS DOUBLE) ORDER BY pos) cvec2 FROM cm GROUP BY 1),
      vd AS (SELECT vec_id, list_transform(q, x -> CAST(x AS DOUBLE)) dv FROM vq),
      sc2 AS (SELECT v.vec_id, c.cell,
                list_reduce(list_transform(list_zip(cvec2, cvec2), s -> s[1]*s[2]), (x, y) -> x + y)
                  - 2.0 * list_reduce(list_transform(list_zip(dv, cvec2), s -> s[1]*s[2]), (x, y) -> x + y)
                  AS score
              FROM vd v, c2 c),
      as2 AS (SELECT vec_id, cell FROM (
                SELECT vec_id, cell,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, cell) rn
                FROM sc2) WHERE rn = 1),
      bf AS (SELECT cell, COUNT(*) n_before FROM assign GROUP BY 1),
      af AS (SELECT cell, COUNT(*) n_after FROM as2 GROUP BY 1),
      tot AS (SELECT SUM(n_before) total, COUNT(*) n_cells FROM bf)
      SELECT cell,
             CAST(COALESCE(n_before, 0) AS BIGINT) n_before,
             CAST(COALESCE(n_after, 0) AS BIGINT) n_after,
             CAST((COALESCE(n_before, 0) * n_cells * 100) // total AS BIGINT) load_before_pct,
             CAST((COALESCE(n_after, 0) * n_cells * 100) // total AS BIGINT) load_after_pct
      FROM bf FULL OUTER JOIN af USING (cell), tot
      ORDER BY cell
    """)
  )

  /** MULTI-ROUND LLOYD (k=3): [[ivfRetrain]]'s one exact-integer round
    * ITERATED, reported per round as (alive cells, max load factor,
    * SSE) — the convergence trace a retrain job logs to decide when
    * another round stops paying. Each round recomputes truncating
    * integer-micro centroid means from the previous assignment and
    * re-assigns (the [[ivfRetrainAssign]] kernel verbatim, so every
    * product and partial sum stays an exactly-representable integer
    * and the whole trace is hash-exact). SSE_r is measured AFTER both
    * half-steps of round r — the textbook argument (means minimize SSE
    * for a fixed assignment; re-assignment minimizes it for fixed
    * centroids) makes the trace non-increasing, up to the ±1-micro
    * truncation of the integer means; VectorSpec asserts the strict
    * drop where the fixture moves and exact convergence after it.
    * The DuckDB oracle unrolls the three rounds as CTE chains (the
    * `vector_pagerank` discipline).
    *
    * Scale shape: per round, one posexplode + (cell,pos)-keyed partial
    * agg (C·64 groups) + one broadcast-codebook scan — cost is LINEAR
    * in rounds with no corpus shuffle anywhere (SCALING.md row);
    * assignments are localCheckpoint'd so round r+1 reads a truncated
    * lineage, not a growing plan. */
  /** Driver-local replica of the k-round integer-micro Lloyd trace —
    * bit-identical to the distributed path by construction: double
    * scores are the same strict left folds [[dot_product]] runs,
    * rounding is Spark's HALF_UP-on-BigDecimal `round`, integral
    * division is quot (truncation toward zero, SQL `div`), the
    * Double→Long SSE cast truncates like a SQL CAST, and argmin
    * tie-breaks on the lower cell exactly like `min(struct(score,
    * cell))`. Returns None for corpora with no content-addressed
    * centroid (vec_id < nCells empty) — the caller then takes the
    * distributed path, which defines the degenerate behavior.
    * LloydLocalSpec equates both paths row-exactly on random corpora
    * (negative components exercise the rounding and quot edges) and
    * the fixture. */
  private[operators] def lloydLocalTrace(
      vecs: Array[(Long, Array[Double])], kRounds: Int,
      nCells: Int = 16): Option[Seq[(Long, Long, Long, Long)]] = {
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0
      var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    // Spark `CAST(round(x) AS BIGINT)` on a double: HALF_UP at scale 0
    def roundMicro(d: Double): Long =
      java.math.BigDecimal.valueOf(d).setScale(0, java.math.RoundingMode.HALF_UP)
        .doubleValue().toLong
    if (vecs.isEmpty) return None
    val cents0: Array[(Int, Array[Double])] =
      vecs.filter(_._1 < nCells).sortBy(_._1).map { case (id, v) => (id.toInt, v) }
    if (cents0.isEmpty) return None
    // argmin over (score, cell) — min(struct(score, cell)) semantics
    def assignTo(cells: Array[(Int, Array[Double])], v: Array[Double]): Int = {
      var bestCell = 0
      var bestS = 0.0
      var first = true
      cells.foreach { case (cell, c) =>
        val sc = dot(c, c) - 2.0 * dot(v, c)
        if (first || sc < bestS || (sc == bestS && cell < bestCell)) {
          bestS = sc; bestCell = cell; first = false
        }
      }
      bestCell
    }
    val n = vecs.length
    val dim = vecs(0)._2.length
    // vq = CAST(round(1e6 * v) AS BIGINT); vqd = its exact double — the
    // per-round eq/vd frames recompute these from the SAME v each round
    val vq: Array[Array[Long]] = vecs.map(_._2.map(x => roundMicro(1000000 * x)))
    val vqd: Array[Array[Double]] = vq.map(_.map(_.toDouble))
    var assign: Array[Int] = vecs.map(v => assignTo(cents0, v._2))
    val out = (1 to kRounds).map { r =>
      // retrained codebook: per alive cell, per pos, quot(Σ vq, count)
      val cents: Array[(Int, Array[Double])] =
        (0 until n).groupBy(assign(_)).toArray.sortBy(_._1).map { case (cell, idxs) =>
          val c = new Array[Double](dim)
          var p = 0
          while (p < dim) {
            var sum = 0L
            idxs.foreach(i => sum += vq(i)(p))
            c(p) = (sum / idxs.size).toDouble
            p += 1
          }
          (cell, c)
        }
      val newAssign: Array[Int] = Array.tabulate(n)(i => assignTo(cents, vqd(i)))
      val centMap = cents.toMap
      var sse = 0L
      var i = 0
      while (i < n) {
        val c = centMap(newAssign(i))
        val vd = vqd(i)
        sse += (dot(vd, vd) - 2.0 * dot(vd, c) + dot(c, c)).toLong
        i += 1
      }
      val counts = newAssign.groupBy(identity).map(_._2.length.toLong).toArray
      val nAlive = counts.length.toLong
      val maxLoad = (counts.max * nAlive * 100L) / counts.sum
      assign = newAssign
      (r.toLong, nAlive, maxLoad, sse)
    }
    Some(out)
  }

  /** the distributed k-round trace — the pre-round-20 body verbatim;
    * large corpora and the threshold=0 dial take this path. */
  private def ivfRetrainKDistributed(
      s: SparkSession, dir: String, kRounds: Int): DataFrame = {
    import s.implicits._
    var assigned = ivfFlatAssign(s, dir)._1
      .select($"vec_id", $"v", $"cell").localCheckpoint()
    val base = assigned.select($"vec_id", $"v")
    val reports = (1 to kRounds).map { r =>
      val (best, cents) = ivfRetrainAssign(s, assigned)
      val next = base.join(best, "vec_id").localCheckpoint()
      // SSE against THIS round's codebook: ||vq − c||² = v·v − 2v·c
      // + c·c over integer-valued doubles (all partial sums < 2⁵³)
      val sse = next
        .withColumn("vqd",
          expr("transform(v, x -> CAST(CAST(round(1000000 * x) AS BIGINT) AS DOUBLE))"))
        .join(broadcast(cents), "cell")
        .select((dot_product($"vqd", $"vqd")
          - lit(2.0) * dot_product($"vqd", $"cvec")
          + dot_product($"cvec", $"cvec")).cast("long").as("d2"))
        .agg(sum($"d2").as("sse"))
      val per = next.groupBy($"cell").agg(count(lit(1)).as("n"))
      val rep = per.agg(
        lit(r.toLong).as("rnd"),
        count(lit(1)).as("n_alive"),
        expr("(max(n) * count(1) * 100L) div sum(n)").as("max_load_pct"))
      assigned = next
      rep.crossJoin(broadcast(sse))
    }
    reports.reduce(_ union _).orderBy($"rnd")
  }

  val ivfRetrainK: Q = Q(
    "vector_ivf_retrain_k",
    (s, dir) => {
      import s.implicits._
      val kRounds = 3
      // DRIVER-LOCAL FAST PATH (round-20, verdict item 4 — the CC-star
      // size-guarded hybrid applied to Lloyd): the distributed trace
      // costs 3 rounds × (checkpoint barrier + broadcast-assign + agg)
      // of fixed scheduler overhead regardless of corpus size. Under
      // `graft.vector.lloyd.localVecThreshold` vectors (default 100k —
      // 64 dims × 8 B ≈ 51 MB, far below what the driver already holds
      // for a broadcast), ONE collect feeds the exact-arithmetic local
      // replica; larger corpora take the distributed rounds unchanged.
      // threshold = 0 forces the distributed path (probes/specs);
      // length <= cap (never the raw threshold) so a clamped take can
      // never be mistaken for the full corpus.
      val threshold = s.conf.getOption("graft.vector.lloyd.localVecThreshold")
        .map(_.toLong).getOrElse(100000L)
      val cap = math.min(threshold, Int.MaxValue - 1L).toInt
      val probed: Array[(Long, Seq[Float])] =
        if (threshold > 0)
          Tables.load(s, dir, "embeddings").select($"vec_id", $"embedding")
            .as[(Long, Seq[Float])].take(cap + 1)
        else Array.empty
      val localRows =
        if (threshold > 0 && probed.length <= cap)
          lloydLocalTrace(
            probed.map { case (id, emb) => (id, emb.toArray.map(_.toDouble)) },
            kRounds)
        else None
      localRows match {
        case Some(rows) =>
          s.createDataset(rows).toDF("rnd", "n_alive", "max_load_pct", "sse")
            .orderBy($"rnd")
        case None => ivfRetrainKDistributed(s, dir, kRounds)
      }
    },
    Some {
      val rounds = (1 to 3).map { r =>
        val prev = if (r == 1) "assign" else s"as${r - 1}"
        s"""xp$r AS (SELECT a.cell, unnest(q) x, generate_subscripts(q, 1) pos
           |        FROM $prev a JOIN vq USING (vec_id)),
           |cm$r AS (SELECT cell, pos, SUM(x) // COUNT(*) m FROM xp$r GROUP BY 1, 2),
           |c$r AS (SELECT cell, list(CAST(m AS DOUBLE) ORDER BY pos) cvec FROM cm$r GROUP BY 1),
           |sc$r AS (SELECT v.vec_id, c.cell,
           |          list_reduce(list_transform(list_zip(cvec, cvec), s -> s[1]*s[2]), (x, y) -> x + y)
           |            - 2.0 * list_reduce(list_transform(list_zip(dv, cvec), s -> s[1]*s[2]), (x, y) -> x + y)
           |            AS score
           |        FROM vd v, c$r c),
           |as$r AS (SELECT vec_id, cell FROM (
           |          SELECT vec_id, cell,
           |                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, cell) rn
           |          FROM sc$r) WHERE rn = 1),
           |per$r AS (SELECT cell, COUNT(*) n FROM as$r GROUP BY 1),
           |rep$r AS (SELECT CAST($r AS BIGINT) rnd,
           |                 CAST(COUNT(*) AS BIGINT) n_alive,
           |                 CAST(MAX(n) * COUNT(*) * 100 // SUM(n) AS BIGINT) max_load_pct
           |          FROM per$r),
           |sse$r AS (SELECT CAST(SUM(CAST(
           |            list_reduce(list_transform(list_zip(dv, cvec),
           |              p -> (p[1] - p[2]) * (p[1] - p[2])), (a, b) -> a + b)
           |            AS BIGINT)) AS BIGINT) sse
           |          FROM as$r a JOIN vd v USING (vec_id) JOIN c$r c ON c.cell = a.cell)""".stripMargin
      }.mkString(",\n      ")
      val union = (1 to 3).map(r =>
        s"SELECT rnd, n_alive, max_load_pct, sse FROM rep$r, sse$r")
        .mkString("\n        UNION ALL\n        ")
      s"""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
                 FROM embeddings),
      n AS (SELECT vec_id, v,
              sqrt(list_reduce(list_transform(list_zip(v, v), s -> s[1]*s[2]), (a, b) -> a + b)) nrm
            FROM e),
      cents AS (SELECT CAST(vec_id AS INT) AS cell, v AS cvec FROM n WHERE vec_id < 16),
      sc AS (SELECT n.vec_id, cell,
               list_reduce(list_transform(list_zip(cvec, cvec), s -> s[1]*s[2]), (x, y) -> x + y)
                 - 2.0 * list_reduce(list_transform(list_zip(v, cvec), s -> s[1]*s[2]), (x, y) -> x + y)
                 AS score
             FROM n, cents),
      assign AS (SELECT vec_id, cell FROM (
                   SELECT vec_id, cell,
                          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, cell) rn
                   FROM sc) WHERE rn = 1),
      vq AS (SELECT vec_id,
               list_transform(embedding, x -> CAST(ROUND(1000000 * CAST(x AS DOUBLE)) AS BIGINT)) q
             FROM embeddings),
      vd AS (SELECT vec_id, list_transform(q, x -> CAST(x AS DOUBLE)) dv FROM vq),
      $rounds
      SELECT rnd, n_alive, max_load_pct, sse
      FROM (
        $union
      )
      ORDER BY rnd
    """
    }
  )

  /** The swap decision itself, factored for the spec: `profile` carries
    * (cell, load_factor_pct) — [[cellProfile]]'s shape — and `recall`
    * carries (ann_method, recall_micro) — [[recallEval]]'s. One row:
    * swap = 1 iff ANY cell breaches `breachPct` AND the retrained
    * serve path does not LOSE recall vs flat. Both legs ride along so
    * a NO is attributable (which guard bound). */
  private[operators] def retrainGateRow(
      profile: DataFrame, recall: DataFrame, breachPct: Long = 200L): DataFrame = {
    val p = profile.agg(
      sum(when(col("load_factor_pct") > breachPct, 1L).otherwise(0L))
        .as("breached_cells"),
      max(col("load_factor_pct")).as("max_load_pct"))
    val r = recall.agg(
      max(when(col("ann_method") === "ivf_flat", col("recall_micro")))
        .as("recall_flat_micro"),
      max(when(col("ann_method") === "ivf_retrained", col("recall_micro")))
        .as("recall_retrained_micro"))
    p.crossJoin(broadcast(r)).select(
      col("breached_cells"), col("max_load_pct"),
      col("recall_flat_micro"), col("recall_retrained_micro"),
      when(col("breached_cells") > 0L &&
           col("recall_retrained_micro") >= col("recall_flat_micro"), 1L)
        .otherwise(0L).as("swap"))
  }

  /** RETRAIN DECISION GATE: the round-11 measured lesson
    * ("retraining DROPS recall on isotropic data — rebalance only on
    * clustered drift") promoted from prose to ONE oracled decision
    * row. Composes [[cellProfile]]'s load-factor breach flag with
    * [[recallEval]]'s retained-vs-flat recall comparison:
    * `swap` = 1 iff any cell's load factor breaches 200 (2× the
    * balanced population — the [[graft.streaming.IvfBalanceStream]]
    * rule) AND the retrained codebook's measured recall@10 is at
    * least the flat codebook's. On the isotropic fixture BOTH guards
    * bind (no breach; retrained 212,500µ < flat 875,000µ) so the row
    * reads swap = 0 — exactly the don't-swap a pipeline should obey;
    * VectorSpec proves the YES path on the skewed two-blob fixture
    * where a blob-spanning mega-cell breaches at 393% and the
    * retrained serve strictly improves recall.
    *
    * Scale shape: both inputs are already bounded (the profile is
    * C rows; the recall comparison is top-k-sized semi-joins); the
    * gate itself is two single-row aggregates crossed — nothing new
    * touches the corpus. */
  val retrainGate: Q = Q(
    "vector_retrain_gate",
    (s, dir) => {
      // profile and recall legs are independent — overlap them
      // (guide §2.6); built inline, the profile's barrier jobs ran
      // before the recall members could start
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val profF = Future(cellProfile.run(s, dir).localCheckpoint())
      // only the two methods the decision reads — a member subset's
      // rows are identical to the full eval's (independent per member)
      val rec = recallEvalMembers(s, dir, Seq("ivf_flat", "ivf_retrained"))
      retrainGateRow(Await.result(profF, Duration.Inf), rec)
    },
    Some(s"""
      WITH prof AS (${cellProfile.oracle.get}),
      rec AS (${recallEval.oracle.get}),
      p AS (SELECT SUM(CASE WHEN load_factor_pct > 200 THEN 1 ELSE 0 END) breached_cells,
                   MAX(load_factor_pct) max_load_pct FROM prof),
      r AS (SELECT MAX(CASE WHEN ann_method = 'ivf_flat' THEN recall_micro END) recall_flat_micro,
                   MAX(CASE WHEN ann_method = 'ivf_retrained' THEN recall_micro END) recall_retrained_micro
            FROM rec)
      SELECT CAST(breached_cells AS BIGINT) breached_cells,
             CAST(max_load_pct AS BIGINT) max_load_pct,
             recall_flat_micro, recall_retrained_micro,
             CAST(CASE WHEN breached_cells > 0
                        AND recall_retrained_micro >= recall_flat_micro
                  THEN 1 ELSE 0 END AS BIGINT) swap
      FROM p, r
    """)
  )

  def queries: Seq[Q] =
    Seq(topK, annLsh, annIvf, annIvfFlat, labelCentroids, quantize, negatives, oodFilter,
      pqAdc, annIvfPq, knnGraph, pageRank, coreset, recallEval, mmrRerank,
      mmrAdmitted,
      matryoshkaEval, centroidDrift, cellProfile, ivfRetrain, annIvfRetrained,
      pqRetrain, retrainGate, ivfRetrainK)
}
