package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Materialize
import graft.plans.{PqCodes, SquaredL2}

/** Product-quantization ANN index (Jégou et al. 2011): compress each
  * vector to `m` one-byte codes (one per contiguous sub-vector, nearest
  * of `ksub` per-subspace centroids), then answer nearest-neighbor
  * queries with ASYMMETRIC DISTANCE — the query stays uncompressed, a
  * driver-side m×ksub lookup table turns each coded row into m table
  * lookups ([[graft.plans.PqCodes.adc]], whole-stage codegen).
  *
  * This is the memory-bound scale path beside [[IvfIndex]] (which
  * prunes WHICH rows are scanned; PQ shrinks WHAT each scanned row
  * costs — 64 float dims = 256 bytes → 8 bytes at m = 8, 32×). The two
  * compose: IVF picks nprobe clusters, ADC scans their codes. PQ
  * approximates L2; for cosine ranking, L2-normalize vectors first
  * (||a−b||² = 2 − 2·cos on the unit sphere — rank-equivalent).
  *
  * Training is deterministic per-subspace Lloyd (the [[IvfIndex]]
  * discipline): seeds are the `ksub` lowest-id vectors' sub-slices; the
  * assign step IS the encoder — one codegen'd [[graft.plans.PqCodes.encode]]
  * pass assigns all m subspaces concurrently (no centroid join, no
  * shuffle of distance rows) — and the new means (m·ksub tiny rows)
  * collect to the driver, the [[graft.operators.KMeans]] per-iteration
  * pattern. Empty clusters keep their previous centroid.
  */
object PqIndex {

  /** Trained codebooks: `cents(s)(c)` = centroid c of subspace s. */
  final case class Codebooks(m: Int, ksub: Int, subDim: Int,
                             cents: Array[Array[Array[Float]]])

  /** Train per-subspace codebooks on `vectors`. `dim` must divide
    * evenly into `m` subspaces; `ksub` <= 256 (one byte per code).
    * `ksub = 0` AUTO-SIZES to min(256, available training vectors) —
    * the code byte is paid either way, so the finest codebook the
    * byte (and the corpus) affords is strictly better: measured
    * (SCALE.md round-17), ksub=256 beats ksub=16 at EVERY shortlist
    * on 64-dim embeddings (e.g. 0.930 vs 0.825 recall@10 at
    * shortlist=60, identical storage). Explicit ksub pins geometry
    * (the oracle-certified catalog queries do).
    *
    * Training runs on a BOUNDED deterministic sample of at most
    * ~`maxTrainRows` vectors (hash-modulus on the id — stable across
    * runs and partitionings), materialized ONCE via `localCheckpoint`:
    * codebooks are statistics, not an index — every production PQ
    * trains on a capped sample, never the corpus — and the Lloyd loop
    * then iterates over cached bounded data instead of re-deriving the
    * corpus lineage `iterations + 1` times. */
  def train(vectors: DataFrame, vecCol: String, idCol: String,
            m: Int = 8, ksub: Int = 16, iterations: Int = 3,
            maxTrainRows: Long = 100000L): Codebooks = {
    require(m >= 1, s"m must be >= 1, got $m")
    require(ksub >= 0 && ksub <= 256,
      s"need 1 <= ksub <= 256 (or 0 = auto-size), got $ksub")
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    require(maxTrainRows >= math.max(1, ksub),
      s"maxTrainRows=$maxTrainRows must cover ksub=$ksub seeds")
    val clean = vectors.filter(col(vecCol).isNotNull)
    val n = clean.count()
    require(n > 0, "PqIndex.train: no non-null vectors")
    val keepMod = math.max(1L, math.ceil(n.toDouble / maxTrainRows).toLong)
    val sampled =
      if (keepMod > 1L)
        clean.filter(pmod(xxhash64(col(idCol)), lit(keepMod)) === 0)
      else clean
    val base = Materialize(sampled
      .select(col(idCol).as("__id"), col(vecCol).as("__v")), eager = true)
    val dimRow = base.select(size(col("__v")).as("d")).limit(1).collect()
    require(dimRow.nonEmpty, "PqIndex.train: sampling left no vectors")
    val dim = dimRow(0).getInt(0)
    require(dim % m == 0, s"dim $dim must split evenly into m=$m subspaces")
    val subDim = dim / m

    // deterministic seeding: sub-slices of the ksub lowest-id vectors.
    // ksub = 0 auto-sizes to whatever the sample affords, capped at the
    // one-byte code's 256 — the finest codebook the byte can hold
    val wanted = if (ksub == 0) 256 else ksub
    val seeds = base.orderBy(col("__id").asc).limit(wanted)
      .select(col("__v").cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    val ksubEff = if (ksub == 0) seeds.length else ksub
    require(ksubEff >= 1 && seeds.length == ksubEff,
      s"need at least ksub=$ksubEff vectors to seed, got ${seeds.length}")
    var cents: Array[Array[Array[Double]]] =
      Array.tabulate(m, ksubEff)((s, c) => seeds(c).slice(s * subDim, (s + 1) * subDim))

    if (iterations > 0) {
      // Lloyd assign = the ENCODER itself: pq_encode's codegen'd argmin
      // assigns all m subspaces in ONE narrow pass over the cached
      // sample — no centroid cross join, no shuffle of |sample| ×
      // m·ksub distance rows (that first-cut shape cost 9.3 s at
      // sf0.1). The update step inlines (sub_id, code, subvec) rows
      // and map-side-combines the per-cluster means.
      val mean = udaf(new TypedAggregators.VectorMean(subDim))
      for (_ <- 1 to iterations) {
        val cbF = cents.map(_.map(_.map(_.toFloat)))
        val pieces = (0 until m).map { s =>
          struct(lit(s).as("sub_id"),
            // byte s of the code block, unsigned (hex -> base 10)
            conv(hex(substring(col("__codes"), s + 1, 1)), 16, 10)
              .cast("int").as("cluster_id"),
            slice(col("__v"), s * subDim + 1, subDim).as("subvec"))
        }
        val assigned = base
          .withColumn("__codes", PqCodes.encode(col("__v"), cbF))
          .filter(col("__codes").isNotNull)
          .select(inline(array(pieces: _*)))
        val means = assigned
          .groupBy(col("sub_id"), col("cluster_id"))
          .agg(mean(col("subvec").cast("array<float>")).as("mu"))
          .collect()
        means.foreach { r =>
          val mu = r.getSeq[Double](2)
          if (mu.nonEmpty) cents(r.getInt(0))(r.getInt(1)) = mu.toArray
          // empty cluster -> keep previous centroid
        }
      }
    }
    Codebooks(m, ksubEff, subDim, cents.map(_.map(_.map(_.toFloat))))
  }

  /** Add the m-byte PQ codes column — the compressed dataset
    * ([[graft.plans.PqCodes.encode]], codegen'd; the codebooks ride
    * each task as one constant table). */
  def encode(vectors: DataFrame, vecCol: String, cb: Codebooks,
             codesCol: String = "pq_codes"): DataFrame =
    vectors.withColumn(codesCol, PqCodes.encode(col(vecCol), cb.cents))

  /** The query's asymmetric-distance lookup table:
    * `lut(s)(c) = ||query_s − cents(s)(c)||²` — m·ksub floats, computed
    * once driver-side per query. */
  def lut(queryVec: Seq[Float], cb: Codebooks): Array[Array[Float]] = {
    require(queryVec.length == cb.m * cb.subDim,
      s"query dim ${queryVec.length} != ${cb.m} x ${cb.subDim}")
    Array.tabulate(cb.m, cb.ksub) { (s, c) =>
      var d = 0.0
      var j = 0
      while (j < cb.subDim) {
        val diff = queryVec(s * cb.subDim + j).toDouble - cb.cents(s)(c)(j)
        d += diff * diff
        j += 1
      }
      d.toFloat
    }
  }

  /** Approximate top-k nearest neighbors of `queryVec` over the coded
    * column: one scan of the m-byte codes (never the raw vectors),
    * `orderBy().limit(k)` = TakeOrderedAndProject (distributed partial
    * top-k). Output: (<idCol>, adc_dist), ascending distance, id
    * tie-break. */
  def adcTopK(encoded: DataFrame, idCol: String, cb: Codebooks,
              queryVec: Seq[Float], k: Int,
              codesCol: String = "pq_codes"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    encoded
      .withColumn("adc_dist", PqCodes.adc(col(codesCol), lut(queryVec, cb)))
      .filter(col("adc_dist").isNotNull)
      .select(col(idCol), col("adc_dist"))
      .orderBy(col("adc_dist").asc, col(idCol).asc)
      .limit(k)
  }

  private val MetaPrefix = "_graft_pq_meta"

  /** Persist trained codebooks at `store` — the missing half of a
    * persisted PQ index (the codes column lands in parquet beside the
    * ids; the codebooks must survive too, or the codes are
    * undecodable). Floats serialize as raw int bits, so the roundtrip
    * is BIT-exact; the write is the [[graft.sources.Manifest]]
    * versioned swap (never a zero-manifest instant, latest wins). */
  def saveCodebooks(spark: org.apache.spark.sql.SparkSession, store: String,
                    cb: Codebooks): Unit = {
    val sb = new StringBuilder
    sb.append(s"${cb.m} ${cb.ksub} ${cb.subDim}\n")
    for (s <- 0 until cb.m; c <- 0 until cb.ksub)
      sb.append(cb.cents(s)(c)
        .map(f => java.lang.Float.floatToIntBits(f).toString)
        .mkString(" ")).append("\n")
    graft.sources.Manifest.write(spark, store, MetaPrefix, sb.toString)
  }

  def codebooksExist(spark: org.apache.spark.sql.SparkSession,
                     store: String): Boolean =
    graft.sources.Manifest.exists(spark, store, MetaPrefix)

  /** Load persisted codebooks (bit-exact inverse of [[saveCodebooks]]). */
  def loadCodebooks(spark: org.apache.spark.sql.SparkSession,
                    store: String): Codebooks = {
    require(codebooksExist(spark, store), s"no PQ codebooks at $store")
    val lines = graft.sources.Manifest.read(spark, store, MetaPrefix)
      .trim.split("\n")
    val head = lines(0).trim.split("\\s+")
    val (m, ksub, subDim) = (head(0).toInt, head(1).toInt, head(2).toInt)
    require(lines.length == 1 + m * ksub,
      s"corrupt codebooks at $store: ${lines.length - 1} rows, want ${m * ksub}")
    val cents = Array.tabulate(m, ksub) { (s, c) =>
      val row = lines(1 + s * ksub + c).trim.split("\\s+")
      require(row.length == subDim,
        s"corrupt codebooks at $store: centroid width ${row.length}, want $subDim")
      row.map(b => java.lang.Float.intBitsToFloat(b.toInt))
    }
    Codebooks(m, ksub, subDim, cents)
  }

  /** The standard PQ serving pipeline: ADC shortlists `shortlist`
    * candidates from the CODES scan (cheap, approximate), then the raw
    * vectors of just those rows re-rank EXACTLY (squared L2, ascending,
    * id tie-break). Quantization noise only has to keep a true neighbor
    * inside the shortlist, not rank it — recall@k of the refined list is
    * recall@shortlist of raw ADC, a far easier bar (measured in
    * PqIndexSpec / BENCH_NOTES). `encoded` must still carry `vecCol`;
    * the exact pass touches `shortlist` rows, never the corpus.
    *
    * `shortlist = 0` auto-sizes to max(4·k, ceil(0.7·|encoded|)) — the
    * [[IvfPqStore.topK]] r17 scale rule with scanned = the WHOLE coded
    * frame (this route has no coarse pruning; recall tracks
    * shortlist/scanned, SCALE.md r17). That buys ceiling recall at a
    * 70%-of-corpus refine — honest but expensive, which is why the
    * DEFAULT stays the pinned 100 (the sub-1k-corpus geometry q140
    * certifies): at scale, compose with IVF ([[IvfPqStore]]) so
    * `scanned` is the probed √n slice, not the corpus. */
  def adcRefineTopK(encoded: DataFrame, vecCol: String, idCol: String,
                    cb: Codebooks, queryVec: Seq[Float], k: Int,
                    shortlist: Int = 100,
                    codesCol: String = "pq_codes"): DataFrame = {
    require(k >= 1 && (shortlist == 0 || shortlist >= k),
      s"need shortlist >= k >= 1 (or 0 = auto-size), got k=$k shortlist=$shortlist")
    val sl =
      if (shortlist > 0) shortlist
      else {
        // LOUD by design (ADVICE r17): this auto path runs a count()
        // over the encoded frame (re-executing its lineage if the
        // caller didn't cache it) and then exact-refines 70% of the
        // corpus EVERY CALL — callers expecting the cheap
        // IvfPqStore-style pruned-count rule should compose with
        // IvfPqStore instead, or cache `encoded` and pass an explicit
        // shortlist in hot loops.
        val resolved = math.max(4L * k,
            math.ceil(0.7 * encoded.filter(col(codesCol).isNotNull).count())
              .toLong)
          .min(Int.MaxValue.toLong).toInt
        System.err.println(s"[pq] adcRefineTopK shortlist=0 resolved to " +
          s"$resolved (0.7x the coded frame; O(corpus) count + refine per " +
          s"call — compose with IvfPqStore for the pruned-scan rule)")
        resolved
      }
    val ids = adcTopK(encoded, idCol, cb, queryVec, sl, codesCol)
      .select(idCol)
    val q = array(queryVec.map(v => lit(v)): _*)
    encoded
      .join(broadcast(ids), Seq(idCol), "left_semi")
      .withColumn("l2_dist", SquaredL2(col(vecCol), q))
      .select(col(idCol), col("l2_dist"))
      .orderBy(col("l2_dist").asc, col(idCol).asc)
      .limit(k)
  }
}
