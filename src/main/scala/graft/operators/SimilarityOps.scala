package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`):
  *
  *  - [[bruteForceTopK]] — exact cosine top-k: one scan, dot products in a
  *    codegen'd higher-order expression, `ORDER BY … LIMIT k` (Spark plans
  *    TakeOrderedAndProject — a per-partition heap + driver merge, NOT a
  *    full sort/shuffle).
  *  - [[lshTopK]] — hyperplane-LSH bucketed ANN: probe only vectors whose
  *    signature is within `probeHamming` of the query's; at 100 TB the
  *    bucket filter prunes the scan to a tiny candidate slice.
  *  - [[ivfTopK]] — IVF-style: coarse centroids (a deterministic sample),
  *    vectors assigned to nearest centroid once (broadcast join), queries
  *    probe the nearest `nProbe` centroid lists.
  *
  * Deterministic hyperplanes: plane p's component j = a hash-derived value
  * in [-1, 1) — no RNG state, reproducible across runs and engines.
  */
object SimilarityOps {

  /** Dot product — a native codegen'd Catalyst expression
    * ([[graft.functions.DotProduct]]): strict left-to-right summation,
    * bit-identical to the HOF left fold it replaced (pinned by spec) but
    * inside whole-stage codegen instead of interpreted lambda dispatch.
    */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct(a, b)

  /** Cosine similarity — the fused single-pass native expression
    * ([[graft.functions.CosineSim]]): one loop accumulates dot + both
    * norms instead of three array walks, bit-identical to the composed
    * `dot/(sqrt·sqrt)` form (pinned by spec).
    */
  def cosine(a: Column, b: Column): Column = graft.functions.CosineSim(a, b)

  /** Sign-bit signature of `v` against `nPlanes` hyperplanes, packed into a
    * long — the native whole-stage-codegen expression
    * ([[graft.functions.HyperplaneSig]]); bit-identical to the
    * higher-order-function form it replaced (OperatorsSpec pins it against
    * the test-side reference), which cost `nPlanes` interpreted lambda
    * chains per row (guide §4).
    */
  def hyperplaneSignature(v: Column, nPlanes: Int): Column =
    graft.functions.HyperplaneSig(v, nPlanes)

  /** Exact top-k by cosine against one query vector. */
  def bruteForceTopK(
      embeddings: DataFrame, query: Seq[Double], k: Int): DataFrame = {
    val q = lit(query.toArray)
    embeddings.select(col("vec_id"),
        cosine(col("embedding"), q).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** ANN: restrict to vectors whose LSH signature is within `probeHamming`
    * bits of the query signature, then exact cosine on the survivors.
    *
    * Scale note: recomputes every signature per query (prunes compute, not
    * I/O). The production path is [[VectorIndex.lsh]]/[[VectorIndex.lshTopK]]
    * — stored banded signatures, partition-pruned equality probes.
    */
  def lshTopK(
      embeddings: DataFrame, query: Seq[Double], k: Int,
      nPlanes: Int = 16, probeHamming: Int = 4): DataFrame = {
    val q = lit(query.toArray)
    val withSig = embeddings.select(col("vec_id"), col("embedding"),
      hyperplaneSignature(col("embedding"), nPlanes).as("sig"))
    val qSig = hyperplaneSignature(q, nPlanes)
    withSig
      .where(bit_count(col("sig").bitwiseXOR(qSig)) <= probeHamming)
      .select(col("vec_id"), cosine(col("embedding"), q).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** Coarse centroids = the `nCentroids` lowest vec_ids — a deterministic
    * sample, chosen over k-means so the DuckDB oracle can replicate the
    * entire IVF index in closed form; a production build would run a few
    * Lloyd iterations here without changing any downstream shape.
    */
  def centroids(embeddings: DataFrame, nCentroids: Int): DataFrame =
    embeddings.orderBy("vec_id").limit(nCentroids)
      .select(col("vec_id").as("centroid_id"),
        col("embedding").as("centroid"))

  /** Lloyd-refined centroids: `iters` k-means steps from the deterministic
    * seed. Each step is two declarative jobs — assign (broadcast crossJoin +
    * max_by partial agg, same shape as [[ivfAssign]]) and re-center
    * (posexplode → per-(centroid, position) mean → re-assemble) — so the
    * refinement distributes like everything else; no driver-side math. A
    * cluster that loses all members keeps its previous centroid. Output
    * schema matches [[centroids]]: (centroid_id, centroid) with the same
    * deterministic ids, so [[VectorIndex.ivf]] can take either.
    */
  def kMeansCentroids(
      embeddings: DataFrame, nCentroids: Int, iters: Int): DataFrame = {
    var cents = centroids(embeddings, nCentroids)
      .select(col("centroid_id"),
        col("centroid").cast("array<double>").as("centroid"))
    val e = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    for (_ <- 0 until iters) {
      val assign = assignTo(e, cents)
      val means = e.join(assign, Seq("vec_id"))
        .select(col("centroid_id"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("centroid_id", "pos").agg(avg(col("x")).as("m"))
        .groupBy("centroid_id")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("new_centroid"))
      cents = cents.join(means, Seq("centroid_id"), "left")
        .select(col("centroid_id"),
          coalesce(col("new_centroid"), col("centroid")).as("centroid"))
    }
    cents
  }

  /** Assign every vector of `e` to its nearest of `cents`.
    *
    * Arg-max via max_by, not a row_number window: the window would shuffle
    * all |V|×C scored rows by vec_id; max_by partial-aggregates map-side so
    * only one (best-so-far) row per vector crosses the exchange — the
    * difference between shipping C× the table and 1× at cluster scale.
    * Tie-break to the LOWEST centroid_id by negating it in the ordering.
    */
  def assignTo(e: DataFrame, cents: DataFrame): DataFrame =
    e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("centroid_id"),
        cosine(col("embedding"), col("centroid")).as("sim"))
      .groupBy("vec_id")
      .agg(max_by(col("centroid_id"),
        struct(col("sim"), -col("centroid_id"))).as("centroid_id"))

  /** IVF assignment: every vector to its nearest seed centroid.
    * Returns (vec_id, centroid_id). The assignment is a broadcast join:
    * |centroids| ≪ |vectors|.
    */
  def ivfAssign(embeddings: DataFrame, nCentroids: Int): DataFrame =
    assignTo(embeddings, centroids(embeddings, nCentroids))

  /** IVF query over an UNMATERIALIZED assignment: probe the `nProbe`
    * centroids nearest the query, exact cosine within their lists only.
    *
    * Scale note: this recomputes the assignment and re-shuffles the table
    * per query — fine for a one-shot job, wrong for a query workload. The
    * production path is [[VectorIndex.ivf]]/[[VectorIndex.ivfTopK]], which
    * materializes the assignment partitioned by centroid_id so a probe is
    * a partition-pruned read.
    */
  def ivfTopK(
      embeddings: DataFrame, query: Seq[Double], k: Int,
      nCentroids: Int = 8, nProbe: Int = 2): DataFrame = {
    val q = lit(query.toArray)
    val assign = ivfAssign(embeddings, nCentroids)
    val probed = centroids(embeddings, nCentroids)
      .select(col("centroid_id"), cosine(col("centroid"), q).as("sim"))
      .orderBy(col("sim").desc, col("centroid_id"))
      .limit(nProbe)
      .select("centroid_id")
    embeddings.join(assign, Seq("vec_id"))
      .join(broadcast(probed), Seq("centroid_id"), "left_semi")
      .select(col("vec_id"), cosine(col("embedding"), q).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** Embedding-space drift: cosine between the per-group centroids of two
    * cohorts (`cohortCol` ∈ {0, 1} — e.g. current vs baseline snapshot, or
    * an A/B split). A cos_shift near 1 means the cohorts occupy the same
    * region; a drop flags a distribution shift the scalar stats can't see
    * (same norms, different directions).
    *
    * Plan shape at scale: `posexplode` fans each vector into (pos, value)
    * rows — n·dim rows, but the aggregate is a plain codegen'd hash
    * aggregate keyed by (group, cohort, pos), partial-aggregated map-side,
    * so the shuffle carries only |groups|·2·dim rows. The centroid join is
    * centroid-sized (tiny). No driver-side vector math.
    */
  def centroidShift(embeddings: DataFrame, groupCol: String,
      cohortCol: Column): DataFrame = {
    val cent = embeddings
      .select(col(groupCol).as("grp"), cohortCol.cast("int").as("cohort"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "v")))
      .groupBy("grp", "cohort", "pos").agg(avg(col("v")).as("c"))
    val a = cent.where(col("cohort") === 0)
      .select(col("grp"), col("pos"), col("c").as("ca"))
    val b = cent.where(col("cohort") === 1)
      .select(col("grp").as("grp_b"), col("pos").as("pos_b"),
        col("c").as("cb"))
    a.join(b, col("grp") === col("grp_b") && col("pos") === col("pos_b"))
      .groupBy("grp")
      .agg((sum(col("ca") * col("cb")) /
        (sqrt(sum(col("ca") * col("ca"))) *
          sqrt(sum(col("cb") * col("cb"))))).as("cos"))
      .select(col("grp"), round(col("cos"), 6).as("cos_shift"))
  }

  /** Per-dimension affine int8 quantization of the embedding column — the
    * 4× index-compression step a materialized ANN index applies before
    * write-out (float32 → int8 with a per-dimension (min, max) codebook).
    * Returns each vector's quantized array plus its reconstruction MSE, so
    * the caller can threshold acceptable quantization error per row.
    *
    * Codebook: per-dimension GLOBAL min/max — a (pos → lo, hi) table of
    * `dim` rows computed by one posexplode hash aggregate (shuffle carries
    * `dim` rows after map-side combine) and joined back as a broadcast.
    * Quantize: `floor(255·(v−lo)/(hi−lo) + 0.5) − 128` — floor(+0.5)
    * instead of round() because engines disagree on round-half semantics;
    * floor is exact everywhere. A constant dimension (hi = lo) quantizes
    * to 0. Dequantized MSE uses the same exact arithmetic in both engines
    * (round 6 masks summation-order ulps).
    */
  def quantizeInt8(embeddings: DataFrame,
      idCol: String = "vec_id"): DataFrame = {
    val comp = embeddings.select(col(idCol),
      posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "v")))
    val codebook = comp.groupBy("pos")
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    val scaled = comp.join(broadcast(codebook), Seq("pos"))
      .withColumn("q",
        when(col("hi") === col("lo"), lit(0L)).otherwise(
          floor(lit(255.0) * (col("v") - col("lo")) /
            (col("hi") - col("lo")) + lit(0.5)) - 128L))
      .withColumn("deq",
        (col("q") + 128L).cast("double") / 255.0 *
          (col("hi") - col("lo")) + col("lo"))
    scaled.groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("pos"), col("q"))))
          .as("_pq"),
        round(avg((col("v") - col("deq")) * (col("v") - col("deq"))) *
          lit(1e6), 6).as("mse_x1e6"))
      .select(col(idCol),
        transform(col("_pq"), e => e.getField("q").cast("int"))
          .as("q_embedding"),
        col("mse_x1e6"))
  }

  /** Corpus-level quantization-error report built on [[quantizeInt8]]:
    * per label, the mean and max reconstruction MSE — the go/no-go gate
    * before swapping an index's payload to int8.
    */
  def quantizeError(embeddings: DataFrame,
      labelCol: String = "label"): DataFrame =
    quantizeInt8(embeddings)
      .join(embeddings.select(col("vec_id"), col(labelCol)), Seq("vec_id"))
      .groupBy(labelCol)
      .agg(count(lit(1)).as("n_vecs"),
        round(avg(col("mse_x1e6")), 3).as("mean_mse_x1e6"),
        round(max(col("mse_x1e6")), 3).as("max_mse_x1e6"))
}
