package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.DotProduct.dotF

/** Product-quantization ANN (the IVF-PQ family's compression half):
  * split the d-dim space into `m` subspaces of d/m dims, learn a
  * k-codeword codebook per subspace (deterministic k-means-lite, L2
  * assignment), and encode every corpus vector as `m` small codes — a
  * 64-dim float32 vector (256 B) becomes 8 codes (8 B at k ≤ 256).
  *
  * Scale shape, mirroring [[Ivf]]:
  * - codebooks are driver-held index METADATA (m·k·(d/m) = d·k floats
  *   total — same size class as the IVF codebook);
  * - training runs ONE shuffle per Lloyd round for ALL subspaces
  *   (subvectors explode to (id, sub, subvec) rows; the centroid
  *   recompute groupBy partial-aggregates to m·k·(d/m) rows map-side);
  *   at 100 TB you train on a bounded sample — standard PQ practice —
  *   and encoding still scans the full corpus exactly once;
  * - encoding is a pure map-side projection (argmin over codebook
  *   literals — no join, no shuffle);
  * - search is Asymmetric Distance Computation: each query precomputes
  *   its m×k lookup table of subquery·codeword dot products ONCE on
  *   the broadcast query side, then a candidate's score is m O(1)
  *   `element_at` picks — no per-(query,candidate) vector math at all,
  *   and the scan reads 8-byte codes instead of 256-byte vectors.
  *
  * Determinism: seeds are the first k vectors by id, fixed-count Lloyd
  * rounds, ties to the smallest code — reproducible across runs and
  * partitionings (spec-pinned).
  */
object Pq {

  /** `codebooks(j)` = codewords of subspace j as (code, subvec,
    * ||subvec||²/2); `coded` = (id, codes array<int>). */
  final case class Index(
      codebooks: IndexedSeq[Array[(Int, Array[Float], Double)]],
      coded: DataFrame,
      m: Int,
      dsub: Int)

  private[operators] def halfNormSq(v: Array[Float]): Double = {
    var s = 0.0d; var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
    s / 2.0d
  }

  /** argmin_c ||v − c||² as the codegen-friendly
    * argmax_c (v·c − ||c||²/2); ties → smallest code. One
    * [[graft.functions.CodebookArgMax]] expression looping a codebook
    * reference object — O(1) generated code in k, so the m-expression
    * encode projection stays inside whole-stage codegen (the old
    * greatest-over-k-literal-structs chain blew janino's 64 KB method
    * limit and dropped the stage to interpreted eval, VERDICT r6 #2). */
  private[operators] def argminCode(subvec: Column,
      codebook: Array[(Int, Array[Float], Double)]): Column =
    graft.functions.Codebook.argMinL2(subvec, codebook)

  private[operators] def subvec(vec: Column, j: Int, dsub: Int): Column =
    slice(vec, j * dsub + 1, dsub)

  /** One Lloyd round over ALL subspaces in a single shuffle. The
    * training plan is deliberately GENERIC — the codebook enters as a
    * broadcast-joined DataFrame, not as expression literals — so the
    * generated code is identical across rounds and compiles ONCE
    * (literal argmin chains would recompile per round: new literals →
    * new source → a fresh multi-second Janino pass each iteration,
    * which dominated the build at small scale). Literal codegen is
    * reserved for the one-time [[build]] encode and [[search]] LUTs,
    * where the per-row win is paid back over the full corpus scan. */
  private def lloydRound(
      vectors: DataFrame,
      codebooks: IndexedSeq[Array[(Int, Array[Float], Double)]],
      m: Int, dsub: Int): IndexedSeq[Array[(Int, Array[Float], Double)]] = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val cbDf = codebooks.zipWithIndex.flatMap { case (cb, j) =>
      cb.map { case (code, cv, hn2) => (j, code, cv, hn2) }
    }.toDF("sub", "code", "cv", "hn2")
    val subs = vectors.select(col("id"),
      posexplode(array((0 until m).map(j =>
        subvec(col("vec"), j, dsub)): _*)).as(Seq("sub", "sv")))
    // argmax (sv·cv − ‖cv‖²/2) per (id, sub) = min(struct(−score,
    // code)): ties to the smallest code, same rule as argminCode.
    val assigned = subs.join(broadcast(cbDf), Seq("sub"))
      .withColumn("nscore", -(dotF(col("sv"), col("cv")) - col("hn2")))
      .groupBy(col("id"), col("sub"))
      .agg(min(struct(col("nscore"), col("code"))).as("best"),
        first(col("sv")).as("sv")) // sv is constant within the group
    // decimal accumulation: float means via avg(double) are FP-order
    // dependent (repartitioning could flip a near-tie assignment);
    // decimal sums are exact, so the codebook is identical under any
    // partitioning — which is what the determinism claim requires.
    // decimal(27,12) holds 15 integer digits: avg() returns NULL on
    // overflow, so components must be < ~1e15 in magnitude (any real
    // embedding is unit-scale). The null check below turns a silent
    // NULL codeword — which would NPE later in getSeq — into a
    // diagnosable error at the round that produced it.
    val means = assigned
      .select(col("sub"), col("best.code").as("code"),
        posexplode(col("sv")).as(Seq("pos", "x")))
      .groupBy(col("sub"), col("code"), col("pos"))
      .agg(avg(col("x").cast("decimal(27,12)")).as("mv"))
      .groupBy(col("sub"), col("code"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("mv")))),
        s => s("mv").cast("float")).as("cv"))
      .collect()
      .map { r =>
        val raw = r.getSeq[Any](2)
        if (raw == null || raw.exists(_ == null))
          throw new IllegalStateException(
            s"PQ Lloyd round produced a null codeword mean in subspace " +
              s"${r.getInt(0)} code ${r.getInt(1)} — vector components " +
              "exceed the decimal(27,12) range (|x| >= 1e15)?")
        (r.getInt(0), r.getInt(1), raw.map(_.asInstanceOf[Float]).toArray)
      }
    (0 until m).map { j =>
      val fresh = means.filter(_._1 == j)
        .map { case (_, code, cv) => (code, cv, halfNormSq(cv)) }
      // codewords that captured no vectors keep their previous value
      val freshCodes = fresh.map(_._1).toSet
      (fresh ++ codebooks(j).filterNot(e => freshCodes.contains(e._1)))
        .sortBy(_._1)
    }
  }

  /** Build codebooks (k codewords per subspace, `iters` Lloyd rounds)
    * and encode the corpus. `dim` must be divisible by `m`.
    * Training runs over ~`trainSampleCap` vectors in expectation (a
    * deterministic hash-stride sample — binomial, not an exact cap,
    * so size seedRows headroom accordingly) — standard PQ practice:
    * codebook
    * quality saturates at a bounded sample while encoding still scans
    * the full corpus exactly once, so build cost at 100 TB is one
    * full-scan encode plus a constant-size training job. */
  def build(corpus: DataFrame, idCol: Column, vecCol: Column,
      dim: Int, m: Int = 8, k: Int = 16, iters: Int = 2,
      trainSampleCap: Int = 4096): Index = {
    val dsub = dim / m
    val vectors = corpus.select(idCol.cast("long").as("id"), vecCol.as("vec"))
    val codebooks =
      trainCodebooks(vectors, dim, m, k, iters, trainSampleCap)
    // empty corpus ⇒ empty codebooks; argminCode over zero codewords
    // is unplannable, so short-circuit to an empty (id, codes) frame
    val coded =
      if (codebooks.head.isEmpty)
        vectors.where(lit(false))
          .select(col("id"), array().cast("array<int>").as("codes"))
      else vectors.select(col("id"), encodeExpr(col("vec"), codebooks, dsub))
    Index(codebooks, coded.cache(), m, dsub)
  }

  /** The m-codes array expression for one vector — a pure map-side
    * projection over codeword literals (shared with [[IvfPq]], whose
    * encode pass adds the coarse cluster id in the same scan). */
  private[operators] def encodeExpr(vec: Column,
      codebooks: IndexedSeq[Array[(Int, Array[Float], Double)]],
      dsub: Int): Column =
    array(codebooks.indices.map(j =>
      argminCode(subvec(vec, j, dsub), codebooks(j))): _*).as("codes")

  /** Train the per-subspace codebooks only (no encode) — the shared
    * training half of [[build]], reused by [[IvfPq.build]]. `vectors`
    * must be (id, vec). Returns m codebooks; all m are EMPTY when the
    * corpus is empty. */
  private[operators] def trainCodebooks(vectors: DataFrame, dim: Int,
      m: Int, k: Int, iters: Int,
      trainSampleCap: Int): IndexedSeq[Array[(Int, Array[Float], Double)]] = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val dsub = dim / m
    val n = vectors.count()
    // hash-stride, not id-stride: id % stride == 0 silently yields an
    // EMPTY sample when ids are sparse (all-odd ids, snowflake ids);
    // hashing spreads any id distribution uniformly. Deterministic
    // (xxhash64 is seed-fixed), and a degenerate empty sample still
    // falls back to the full corpus.
    val stride = ((n + trainSampleCap - 1) / trainSampleCap).max(1L)
    var training =
      if (n <= trainSampleCap) vectors
      else vectors.where(pmod(xxhash64(col("id")), lit(stride)) === 0)
    var seedRows = training.orderBy(col("id")).limit(k)
      .select(col("vec")).collect().map(_.getSeq[Float](0).toArray)
    if (seedRows.isEmpty && n > 0) {
      training = vectors
      seedRows = training.orderBy(col("id")).limit(k)
        .select(col("vec")).collect().map(_.getSeq[Float](0).toArray)
    }
    var codebooks: IndexedSeq[Array[(Int, Array[Float], Double)]] =
      (0 until m).map { j =>
        seedRows.zipWithIndex.map { case (v, i) =>
          val sv = v.slice(j * dsub, (j + 1) * dsub)
          (i, sv, halfNormSq(sv))
        }
      }
    (0 until math.max(iters, 1)).foreach { _ =>
      if (seedRows.nonEmpty)
        codebooks = lloydRound(training, codebooks, m, dsub)
    }
    codebooks
  }

  /** Two-stage retrieval — the standard production ANN shape: ADC
    * over compressed codes selects `candK` candidates per query (fast,
    * approximate, reads 16-byte codes), then ONLY those candidates
    * re-score with the exact float cosine and the final top-k comes
    * from the re-rank. Recall is bounded by whether the true
    * neighbors make the candidate pool (candK/topK is the quality
    * knob); the exact stage touches candK·|queries| vectors, not the
    * corpus. Output matches [[Similarity.bruteForceTopK]].
    * `idCol`/`vecCol` name the corpus columns, matching [[build]]'s
    * API (the id must be castable to long, as in build). */
  def searchRerank(index: Index, corpus: DataFrame, queries: DataFrame,
      topK: Int, candK: Int = 50, roundDigits: Int = 5,
      idCol: Column = col("vec_id"),
      vecCol: Column = col("embedding")): DataFrame =
    Similarity.rerankExact(search(index, queries, candK),
      corpus, queries, topK, roundDigits, idCol, vecCol)

  /** ADC top-k: approximate dot(q, v) ≈ Σⱼ LUTⱼ[codeⱼ(v)] where
    * LUTⱼ[c] = qⱼ·codewordⱼ,c is computed once per query row before
    * the broadcast join. queries: (qid, qvec); output
    * (qid, vec_id, score, rank) — rank ties to the smaller id. */
  def search(index: Index, queries: DataFrame, topK: Int,
      roundDigits: Int = 5): DataFrame = {
    if (index.codebooks.isEmpty || index.codebooks.head.isEmpty)
      return queries.where(lit(false)).select(col("qid"),
        col("qid").as("vec_id"), lit(0.0d).as("score"), lit(0L).as("rank"))
    val m = index.m
    val q = queries.select(
      col("qid") +: lutCols(col("qvec"), index.codebooks, index.dsub): _*)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("id"))
    index.coded.join(broadcast(q), col("qid") =!= col("id"))
      .withColumn("score", round(adcScore(m), roundDigits))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
      .select(col("qid"), col("id").as("vec_id"), col("score"), col("rank"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Per-query LUT columns `_lut0.._lut{m-1}`: LUTⱼ[c] = qⱼ·codewordⱼ,c
    * — computed once per (broadcast) query row, each as ONE
    * [[graft.functions.CodebookDots]] loop over the subspace codebook
    * (O(1) generated code in k; the old k-literal `array(dotF…)` build
    * was the expression the 64 KB janino blowup was first observed on).
    * Shared with [[IvfPq]]. */
  private[operators] def lutCols(qvec: Column,
      codebooks: IndexedSeq[Array[(Int, Array[Float], Double)]],
      dsub: Int): Seq[Column] =
    codebooks.indices.map { j =>
      graft.functions.Codebook.dots(subvec(qvec, j, dsub),
        codebooks(j).map(_._2)).as(s"_lut$j")
    }

  /** ADC score over the `_lut*` columns and a candidate's `codes`:
    * m O(1) `element_at` picks, no per-pair vector math. */
  private[operators] def adcScore(m: Int): Column =
    (0 until m).map(j =>
      element_at(col(s"_lut$j"),
        element_at(col("codes"), j + 1) + 1)).reduce(_ + _)

  /** Write the coded corpus + a `__quantizer` sidecar holding the m
    * sub-codebooks — the at-rest PQ layout, completing the persist/
    * load lifecycle symmetry with [[Ivf.persist]]/[[IvfPq.persist]]
    * (plain PQ has no cluster pruning, so the codes are one flat
    * table). */
  def persist(index: Index, path: String): Unit = {
    index.coded.write.mode("overwrite").parquet(path)
    val spark = index.coded.sparkSession
    import spark.implicits._
    index.codebooks.zipWithIndex.flatMap { case (cb, j) =>
      cb.map { case (code, cv, _) => (j, code, cv.toSeq) }
    }.toDF("sub", "code", "cv")
      .coalesce(1) // metadata-sized: one small file
      .write.mode("overwrite").parquet(Ivf.quantizerPath(path))
  }

  /** Rebuild an [[Index]] from a [[persist]]ed path: codebooks from
    * the sidecar (half-norms recomputed — derived data), `coded` read
    * from parquet. */
  def loadIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Index = {
    val rows = spark.read.parquet(Ivf.quantizerPath(path))
      .select(col("sub"), col("code"), col("cv")).collect()
      .map(r => (r.getInt(0), r.getInt(1),
        r.getSeq[Float](2).toArray))
    require(rows.nonEmpty, s"no PQ codebooks at ${Ivf.quantizerPath(path)}")
    val m = rows.map(_._1).max + 1
    val codebooks = (0 until m).map { j =>
      rows.filter(_._1 == j)
        .map { case (_, code, cv) => (code, cv, halfNormSq(cv)) }
        .sortBy(_._1)
    }
    val coded = spark.read.parquet(path).select(col("id"), col("codes"))
    Index(codebooks, coded, m, codebooks.head.head._2.length)
  }

  /** Serve a [[persist]]ed PQ index from the path alone. */
  def searchAt(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, topK: Int, roundDigits: Int = 5): DataFrame =
    search(loadIndex(spark, path), queries, topK, roundDigits)
}
