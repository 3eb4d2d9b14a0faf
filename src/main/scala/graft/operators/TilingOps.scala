package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dynamic tiling + vision-token grid accounting — the Spark
  * re-expression of the reference's layout partitioning stage:
  *
  *  - candidate tile grids and best-aspect selection:
  *    /root/reference/crates/core/src/vision/preprocess.rs:13-49
  *    (BTreeSet of (w,h) with min_num ≤ w·h ≤ max_num, scanned in sorted
  *    order; closer aspect wins; on an exact ratio tie the later
  *    candidate wins iff orig area > 0.5·size²·w·h)
  *  - tile crop offsets: preprocess.rs:57-66 (row-major i%w, i/w)
  *  - placeholder token-grid synthesis (crop mode):
  *    /root/reference/crates/core/src/inference.rs:185-240 —
  *    global (g+1)·g + 1 tokens with g = ceil((base/16)/4); local
  *    (l·w + 1)·(l·h) tokens with l = ceil((size/16)/4) when any crop
  *    dimension exceeds 1.
  *
  * Deviation from the reference, on purpose: the tie test uses exact
  * double equality instead of |d−best| < f64::EPSILON. Candidate ratios
  * are small rationals, so equal aspect ratios collide exactly and a
  * sub-epsilon near-miss cannot occur with integer inputs; exact
  * equality makes the fold expressible as a closed form in the DuckDB
  * oracle (min-diff group → last area-qualified candidate, else first).
  */
object TilingOps {

  val MinNum = 2
  val MaxNum = 9
  val ImageSize = 640
  val BaseSize = 1024
  val PatchSize = 16
  val DownsampleRatio = 4

  /** Sorted distinct candidate grids (w,h), min ≤ w·h ≤ max. */
  def candidateRatios(minNum: Int = MinNum, maxNum: Int = MaxNum): Seq[(Int, Int)] =
    (for {
      i <- 1 to maxNum
      j <- 1 to maxNum
      if i * j >= minNum && i * j <= maxNum
    } yield (i, j)).sorted

  /** Best tile grid for an origW×origH input (see object doc). */
  def bestRatio(origW: Long, origH: Long, imageSize: Int = ImageSize,
                minNum: Int = MinNum, maxNum: Int = MaxNum): (Int, Int) = {
    val aspect = origW.toDouble / origH
    val area = (origW * origH).toDouble
    var best = (1, 1)
    var bestDiff = Double.MaxValue
    candidateRatios(minNum, maxNum).foreach { case (w, h) =>
      val diff = math.abs(aspect - w.toDouble / h)
      if (diff < bestDiff) { bestDiff = diff; best = (w, h) }
      else if (diff == bestDiff &&
               area > 0.5 * (imageSize.toLong * imageSize * w * h).toDouble)
        best = (w, h)
    }
    best
  }

  private def ceilDiv(a: Int, b: Int): Int = (a + b - 1) / b

  /** Global-view token count: (g+1)·g + 1, g = ceil((base/16)/4). */
  def tokensGlobal(baseSize: Int = BaseSize): Int = {
    val g = ceilDiv(baseSize / PatchSize, DownsampleRatio)
    g * (g + 1) + 1
  }

  /** Local-tiles token count for a (w,h) crop grid; 0 when 1×1. */
  def tokensLocal(cropW: Int, cropH: Int, imageSize: Int = ImageSize): Int =
    if (cropW <= 1 && cropH <= 1) 0
    else {
      val l = ceilDiv(imageSize / PatchSize, DownsampleRatio)
      (l * cropH) * (l * cropW + 1)
    }

  /** Per-media tiling plan + token accounting. Dims come from the REAL
    * header parse ([[MediaOps.MediaKernel.decode]]) over the item's
    * content bytes — the decode → tile chain the reference runs
    * (cli/app.rs:95-101 → preprocess.rs:13-49). Narrow kernel, no shuffle.
    */
  def tilingPlan(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    MediaOps.mediaItems(spark, docs).map { item =>
      val meta = MediaOps.MediaKernel.decode(item)
      val (w, h) = (meta.width, meta.height)
      val (rw, rh) = bestRatio(w, h)
      val tg = tokensGlobal().toLong
      val tl = tokensLocal(rw, rh).toLong
      (item.media_ref, rw.toLong, rh.toLong, (rw * rh).toLong, tg, tl, tg + tl)
    }.toDF("media_ref", "ratio_w", "ratio_h", "n_tiles",
           "tokens_global", "tokens_local", "tokens_total")
  }

  /** The crop_mode = false config switch (ref config.rs:78, default true
    * at :91): NO dynamic tiling — patches and crop shape are absent
    * (ref model/mod.rs:1211-1213) and the placeholder grid is computed
    * from IMAGE_SIZE, not base_size (ref inference.rs:228-231):
    * g = ceil((image_size/16)/4) = 10 → 10·11 + 1 = 111 tokens, the same
    * grid TokenOps.buildTokenStream synthesizes. Dims still come from
    * the real header parse so the oracle re-verifies them per row.
    */
  def tilingPlanNoCrop(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val tg = tokensGlobal(ImageSize).toLong
    MediaOps.mediaItems(spark, docs).map { item =>
      val meta = MediaOps.MediaKernel.decode(item)
      (item.media_ref, meta.width, meta.height, 0L, tg, 0L, tg)
    }.toDF("media_ref", "width", "height", "n_tiles",
           "tokens_global", "tokens_local", "tokens_total")
  }
}
