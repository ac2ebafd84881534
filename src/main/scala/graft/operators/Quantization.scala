package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.kmeans.{KMeans, KMeansParams}

/** Product-quantization codebooks: `books(j)(c)` is centroid `c` of
  * subspace `j`; each sub-vector spans `subDim` dims. */
final case class PQCodebooks(
    m: Int, subDim: Int, books: Array[Array[Array[Float]]]) {
  require(books.length == m, s"expected $m codebooks, got ${books.length}")
  def k: Int = books(0).length
}

/** Product quantization (PQ) — the embedding-compression layer of a
  * 100 TB ANN stack (IVF-PQ): each `dim`-float vector is encoded as
  * `m` small codes (one byte each at k ≤ 256), a `4·dim/m`-fold
  * compression, and queries scan codes via an asymmetric-distance
  * lookup table (ADC) instead of touching raw floats.
  *
  * Scale posture: the per-subspace codebook fits reuse the
  * distributed Lloyd kernel ([[graft.kmeans.KMeans]] — per-partition
  * partials, driver merge of k·subDim floats); encoding is a pure
  * narrow codegen'd map (one native-loop argmin per subspace, no
  * shuffle, no UDF); the ADC query is a narrow map over
  * the m-int code column — the raw vectors are never read — followed
  * by a per-partition top-k heap (`TakeOrderedAndProject`).
  *
  * Determinism: the fits inherit the 5-dp round-half-up centroid
  * device (bit-exact vs the recursive-CTE oracle, q30/q40); encode
  * argmins break ties on the lowest code (strict `<` running min); the ADC
  * distance is a fixed-association sum of m doubles whose LUT entries
  * are the same ascending-index f64 folds both engines run.
  */
object Quantization {

  /** Fit `m` codebooks of `k` centroids each over the `dim`-float
    * `embCol`, one seeded-init Lloyd run per contiguous sub-vector
    * (init = the first `k` rows by `idCol`, the q30/q40 device).
    * `iters` = actual Lloyd iterations run (barring convergence). */
  def fitPQ(
      emb: DataFrame,
      idCol: String,
      embCol: String,
      dim: Int,
      m: Int,
      k: Int,
      iters: Int,
      threshold: Double = 1e-4): PQCodebooks = {
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    val subDim = dim / m
    val books = (0 until m).toArray.map { j =>
      val sub = emb.select(col(idCol).as("id"),
        slice(col(embCol), lit(j * subDim + 1), lit(subDim))
          .cast("array<float>").as("features"))
      val init = sub.orderBy("id").limit(k).select("features")
        .collect().map(_.getSeq[Float](0).toArray)
      KMeans.fit(sub.select("features"),
        KMeansParams(k = k, threshold = threshold, maxLoop = iters + 1,
          initCentroids = Some(init))).centroids
    }
    PQCodebooks(m, subDim, books)
  }

  /** The m-code array for one embedding column: one
    * [[graft.functions.VectorFunctions.assignCol]] per subspace. Each is
    * the native `VecArgminSqDist` loop with its codebook as one
    * reference object, so all m share one whole-stage method in ~20
    * generated lines each. Narrow, codegen'd, no UDF, no shuffle. */
  private def codesCol(emb: org.apache.spark.sql.Column,
      cb: PQCodebooks): org.apache.spark.sql.Column =
    array((0 until cb.m).map { j =>
      assignCol(
        slice(emb, lit(j * cb.subDim + 1), lit(cb.subDim))
          .cast("array<float>"),
        cb.books(j))
    }: _*)

  /** Encode every row as its `m` nearest sub-centroid indices —
    * `(id, codes array<int>)`. */
  def encodePQ(
      emb: DataFrame,
      idCol: String,
      embCol: String,
      cb: PQCodebooks): DataFrame =
    emb.select(col(idCol), codesCol(col(embCol), cb).as("codes"))

  /** Approximate top-k by asymmetric distance: the query is cut into
    * sub-vectors, a driver-side `m × k` LUT of exact sub-distances is
    * baked into the plan as literal arrays, and each row's distance is
    * `Σ_j lut(j)(codes(j))` — one codegen'd expression over the code
    * column only. */
  def adcTopK(
      encoded: DataFrame,
      cb: PQCodebooks,
      query: Array[Float],
      topK: Int,
      idCol: String = "vec_id"): DataFrame = {
    require(query.length == cb.m * cb.subDim,
      s"query dim ${query.length} != ${cb.m} x ${cb.subDim}")
    require(topK > 0, s"topK must be positive, got $topK")
    val lut: Array[Array[Double]] = Array.tabulate(cb.m) { j =>
      val qs = java.util.Arrays.copyOfRange(
        query, j * cb.subDim, (j + 1) * cb.subDim)
      cb.books(j).map(c => sqdist(qs, c))
    }
    val adist = (0 until cb.m).map { j =>
      element_at(array(lut(j).map(lit): _*), col("codes")(j) + 1)
    }.reduceLeft(_ + _)
    encoded.select(col(idCol), adist.as("adist"))
      .orderBy(col("adist"), col(idCol))
      .limit(topK)
  }

  /** IVF-PQ probe — the composed 100 TB ANN stack: the coarse
    * quantizer bounds the candidate read to the `nprobe` cells nearest
    * the query (~nprobe/nlist of the corpus; partition pruning when
    * the code table is persisted partitioned by `cell`, the
    * [[Similarity.writeIvfIndex]] shape), and the surviving candidates
    * are ranked by ADC over their m-int codes only. Codes are encoded
    * after the cell filter here (single-shot query); a deployment
    * precomputes them once next to `cell` so probes never touch a raw
    * float. */
  def ivfPqTopK(
      index: Similarity.IvfIndex,
      cb: PQCodebooks,
      query: Array[Float],
      topK: Int,
      nprobe: Int): DataFrame = {
    require(nprobe > 0, s"nprobe must be positive, got $nprobe")
    val probed = index.centroids.zipWithIndex
      .sortBy { case (c, i) => (sqdist(query, c), i) }
      .take(nprobe).map(_._2)
    val candidates = index.assigned
      .where(col("cell").isin(probed.map(Integer.valueOf): _*))
    val enc = encodePQ(candidates, index.idCol, index.embCol, cb)
    adcTopK(enc, cb, query, topK, index.idCol)
  }

  // ------------------------------------------------ persisted PQ index

  /** A persisted-then-reopened PQ index: the codebooks plus the code
    * table (and, when built through [[writePqIndex]] with a coarse
    * quantizer, the cell-partitioned code table + coarse centroids for
    * IVF-PQ probes). Build once, probe many times — at 100 TB nobody
    * re-fits codebooks per query (the [[Similarity.writeIvfIndex]]
    * argument, applied to the compressed-domain stack). */
  final case class PqIndex(
      cb: PQCodebooks,
      codes: DataFrame,
      cellCodes: Option[DataFrame],
      coarseCentroids: Option[Array[Array[Float]]],
      idCol: String) {

    /** ADC top-k over the persisted code table — the raw vectors are
      * never read (the codes parquet does not even contain them). */
    def adcProbe(query: Array[Float], topK: Int): DataFrame =
      adcTopK(codes, cb, query, topK, idCol)

    /** IVF-PQ probe over the persisted cell-partitioned code table:
      * the coarse quantizer picks `nprobe` cells, the scan prunes to
      * those cells' PARTITIONS (PartitionFilters at the source, no
      * full-corpus read), and ADC ranks the surviving codes. */
    def ivfPqProbe(query: Array[Float], topK: Int, nprobe: Int): DataFrame = {
      require(nprobe > 0, s"nprobe must be positive, got $nprobe")
      val cents = coarseCentroids.getOrElse(throw new IllegalStateException(
        "index was written without a coarse quantizer — no IVF tier"))
      val cc = cellCodes.getOrElse(throw new IllegalStateException(
        "index was written without a coarse quantizer — no cell codes"))
      val probed = cents.zipWithIndex
        .sortBy { case (c, i) => (sqdist(query, c), i) }
        .take(nprobe).map(_._2)
      adcTopK(cc.where(col("cell").isin(probed.map(Integer.valueOf): _*)),
        cb, query, topK, idCol)
    }
  }

  /** Persist a PQ index: the m·k codebook rows as a tiny parquet, the
    * encoded corpus as `(id, codes)` — 4·dim/m-fold smaller than the
    * raw vectors, the only thing ADC queries scan — and, when `coarse`
    * is given, the IVF-PQ deployment shape: codes written NEXT TO the
    * cell assignment, partitioned by cell, so probes read only the
    * probed cells' files and never touch a raw float
    * (the precompute promised at [[ivfPqTopK]]'s doc). */
  def writePqIndex(
      emb: DataFrame,
      idCol: String,
      embCol: String,
      cb: PQCodebooks,
      path: String,
      coarse: Option[Similarity.IvfIndex] = None): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    graft.sources.Artifacts.publishVersion(spark, path) { vdir =>
      cb.books.zipWithIndex.flatMap { case (book, j) =>
        book.zipWithIndex.map { case (c, i) => (j, i, c.toSeq) }
      }.toSeq.toDF("subspace", "code", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(s"$vdir/books")
      encodePQ(emb, idCol, embCol, cb)
        .write.mode("overwrite").parquet(s"$vdir/codes")
      coarse.foreach { ivf =>
        ivf.assigned
          .select(col(ivf.idCol), codesCol(col(ivf.embCol), cb).as("codes"),
            col("cell"))
          .write.partitionBy("cell").mode("overwrite")
          .parquet(s"$vdir/cellcodes")
        ivf.centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
          .toDF("cluster", "centroid")
          .coalesce(1).write.mode("overwrite").parquet(s"$vdir/coarse")
      }
    }
  }

  /** Re-open a persisted PQ index (codebooks collected driver-side —
    * m·k rows; the code tables stay distributed). */
  def readPqIndex(
      spark: org.apache.spark.sql.SparkSession,
      path0: String,
      idCol: String = "vec_id"): PqIndex = {
    val path = graft.sources.Artifacts.latestDir(spark, path0, "PQ index")
    val br = spark.read.parquet(s"$path/books")
      .select("subspace", "code", "centroid").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
    val m = br.map(_._1).max + 1
    val books = Array.tabulate(m) { j =>
      br.filter(_._1 == j).sortBy(_._2).map(_._3)
    }
    val cb = PQCodebooks(m, books(0)(0).length, books)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val hasIvf = fs.exists(new org.apache.hadoop.fs.Path(s"$path/coarse"))
    val cents =
      if (!hasIvf) None
      else Some(spark.read.parquet(s"$path/coarse")
        .select("cluster", "centroid").orderBy("cluster").collect()
        .map(_.getSeq[Float](1).toArray))
    val cc =
      if (!hasIvf) None else Some(spark.read.parquet(s"$path/cellcodes"))
    PqIndex(cb, spark.read.parquet(s"$path/codes"), cc, cents, idCol)
  }

  // --------------------------------------------------------- int8

  /** Symmetric per-vector int8 quantization quality report — the
    * 4×-compression sibling of PQ (4 bits/dim-ish codes there, 8-bit
    * linear here; int8 keeps dot products hardware-friendly, which is
    * why serving stacks quantize this way). Per vector: scale =
    * max|x|/127, code_i = round(x_i/scale) ∈ [−127, 127], and the
    * RELATIVE reconstruction error rmse_rel =
    * √(Σ((x_i − code_i·scale)/scale)² / d) — error in units of scale,
    * so one quantization step ≈ 1.0 and the per-term 12-dp
    * DECIMAL-sum device keeps the sum partition- and
    * order-independent. All-zero vectors quantize to all-zero codes
    * with rmse_rel 0. One explode + two per-vector aggregates; no
    * joins wider than the id. */
  def int8QuantizeReport(
      df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 12)
    val ex = df
      .select(col(idCol), explode(col(vecCol)).as("xf"))
      .select(col(idCol), col("xf").cast("double").as("x"))
    val sc = ex.groupBy(idCol)
      .agg((max(abs(col("x"))) / lit(127.0)).as("scale"))
    val dRel = (col("x") - round(col("x") / col("scale")) * col("scale")) /
      col("scale")
    ex.join(sc, idCol)
      .select(col(idCol), col("scale"),
        when(col("scale") === 0.0, lit(java.math.BigDecimal.ZERO).cast(dec))
          .otherwise(round(dRel * dRel, 12).cast(dec)).as("t"))
      .groupBy(idCol)
      .agg(first(col("scale")).as("scale"),
        sqrt(sum(col("t")).cast("double") / count(lit(1))).as("rmse_rel"))
      .orderBy(idCol)
  }
}
