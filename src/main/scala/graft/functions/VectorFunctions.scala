package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math as Column-returning builders over Spark's higher-order
  * functions (`zip_with` / `aggregate`) — no UDFs, everything stays in
  * whole-stage codegen and Catalyst can push/prune around it.
  *
  * Semantics mirror the reference's distance layer
  * (/root/reference/vector_lake/core/hnsw.py:12-17) with one deliberate
  * divergence, documented in SURVEY.md §2.3 Q3: the reference's
  * `cosine_distance` actually returns cosine *similarity* (so its HNSW
  * "nearest" is least-similar). We implement the correct
  * `1 - similarity` distance.
  *
  * Determinism contract (SURVEY.md §7.5): all accumulation is DoubleType,
  * strictly left-to-right over the array order — the same order DuckDB's
  * list functions use, so results hash-match the oracle after round(…,6).
  */
object VectorFunctions {

  /** Cast an ARRAY<FLOAT> column to ARRAY<DOUBLE> (float->double is exact). */
  def asDouble(v: Column): Column = v.cast("array<double>")

  private def wrap(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.GraftShims.column(e)
  private def unwrap(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.GraftShims.expression(c)

  /** Σ aᵢ·bᵢ, left-to-right, in doubles — fused native kernel
    * ([[graft.expressions.DotProductExpr]]): no intermediate array,
    * tight codegen loop. Bit-identical to [[dotHof]]. */
  def dot(a: Column, b: Column): Column =
    wrap(graft.expressions.DotProductExpr(unwrap(asDouble(a)), unwrap(asDouble(b))))

  /** HOF formulation of [[dot]] (kept for equivalence testing and as the
    * no-custom-expression fallback). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)

  /** ‖a‖₂ = sqrt(Σ aᵢ²). */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Euclidean distance sqrt(Σ (aᵢ-bᵢ)²) — reference `l2_distance`
    * (hnsw.py:12-13). Fused kernel, see [[graft.expressions.SquaredL2Expr]]. */
  def l2Dist(a: Column, b: Column): Column =
    sqrt(wrap(graft.expressions.SquaredL2Expr(unwrap(asDouble(a)), unwrap(asDouble(b)))))

  /** HOF formulation of [[l2Dist]] (equivalence-test twin). */
  def l2DistHof(a: Column, b: Column): Column =
    sqrt(aggregate(
      zip_with(asDouble(a), asDouble(b), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x))

  /** Cosine similarity dot/(‖a‖·‖b‖). NaN on zero-norm input — matching
    * the reference's numpy behavior (hnsw.py:16-17) — via an explicit
    * guard, because Spark 4's default ANSI mode otherwise turns the
    * division into a job-killing DIVIDE_BY_ZERO error (one degenerate
    * row must not fail a 100 TB scan; NaN sorts last in ascending
    * distance order, which is the right retrieval semantics). */
  def cosineSim(a: Column, b: Column): Column = {
    val denom = l2Norm(a) * l2Norm(b)
    when(denom === 0.0, lit(Double.NaN)).otherwise(dot(a, b) / denom)
  }

  /** Correct cosine distance 1 − sim (fixes reference bug, SURVEY §2.3 Q3). */
  def cosineDist(a: Column, b: Column): Column =
    lit(1.0) - cosineSim(a, b)

  /** Cosine similarity from a precomputed dot product and per-row norms
    * (the self-join shape: norms computed per ROW, n ops, not per PAIR,
    * n² ops). Zero-norm guarded like [[cosineSim]]: one degenerate row
    * must not fail a 100 TB scan with ANSI DIVIDE_BY_ZERO. */
  def cosineSimPre(dotAb: Column, normA: Column, normB: Column): Column = {
    val denom = normA * normB
    when(denom === 0.0, lit(Double.NaN)).otherwise(dotAb / denom)
  }

  /** `round(x, 6)` with negative zero normalized away (IEEE: −0.0 + 0.0
    * = +0.0). Needed on every oracle-paired distance/score column: when
    * the true value is a hair below zero (self-pairs, near-orthogonal
    * dots), Spark's `round` emits +0.0 but DuckDB's keeps the sign, and
    * the driver's byte-level hash sees -0.0 ≠ +0.0 even though `==`
    * says equal. Normalize on BOTH sides ([[sqlRound6z]]). NaN/NULL pass
    * through unchanged. */
  def round6z(c: Column): Column = round(c, 6) + lit(0.0)

  /** Oracle-side mirror of [[round6z]]. */
  def sqlRound6z(e: String): String = s"(round($e, 6) + 0.0)"

  /** 6dp HALF_UP rounding of a DRIVER-side double — the literal-
    * inlining parity rule: every learned-model value (IVF centroid, PQ
    * codebook entry, ADC table cell) is rounded through this ONE helper
    * before being inlined as a literal into both the Spark expression
    * and the oracle SQL, so the two engines compare identical bits. */
  def round6d(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** A literal vector as an ARRAY<DOUBLE> column — ONE ArrayType
    * `Literal` (a constant reference object in codegen), not
    * `array(lit, lit, …)`: a CreateArray of 64 literals survives into
    * codegen as 64 per-row element stores inside every expression that
    * consumes it, which blew the IVF/PQ queries' generated source to
    * ~57 KB (16 centroids × 64 dims inlined per row) and their
    * execution time to 2-4× the no-codegen path. Values, type and
    * containsNull=false are identical to the CreateArray form.
    *
    * The literal is wrapped NON-FOLDABLE
    * ([[graft.expressions.QueryConstant]]): otherwise Catalyst folds
    * every expression over the vector alone — `l2Norm(q)` in
    * [[cosineSim]] — into a double literal inlined into the generated
    * Java, so each new query vector compiled new classes (~0.1-0.2 s
    * each). Wrapped, `sqrt(dot(q, q))` stays per-row (dim multiplies,
    * the same arithmetic in the same order, so every distance is
    * bit-identical) and every query of one shape reuses Spark's
    * codegen cache. */
  def vecLit(v: Seq[Double]): Column = wrap(graft.expressions.QueryConstant(
    org.apache.spark.sql.catalyst.expressions.Literal.create(v,
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType, containsNull = false))))

  /** Sign-bit packing: bit i ⇔ vᵢ > 0, first min(64, dim) dims — the
    * binarized-embedding compression (fused kernel
    * [[graft.expressions.SignPackExpr]]; [[signPackStatic]] is the
    * equivalence twin built from 64 static when-expressions). */
  def signPack(v: Column): Column =
    wrap(graft.expressions.SignPackExpr(unwrap(asDouble(v))))

  /** Fused int8-quantization audit → struct(abs_q, err)
    * ([[graft.expressions.QuantizeAuditExpr]]); HOF twin below. */
  def quantAudit(v: Column): Column =
    wrap(graft.expressions.QuantizeAuditExpr(unwrap(asDouble(v))))

  /** Interpreted HOF twin of [[quantAudit]] — equivalence-tested, and
    * the reference formulation the DuckDB oracle mirrors. */
  def quantAuditHof(v: Column): Column = {
    val vd = asDouble(v)
    val maxAbs = array_max(transform(vd, x => abs(x)))
    val scale = when(maxAbs === 0.0, lit(1.0)).otherwise(lit(127.0) / maxAbs)
    val qarr = transform(vd, x => round(x * scale).cast("long"))
    val deq = transform(qarr, x => x.cast("double") / scale)
    struct(
      aggregate(transform(qarr, x => abs(x)), lit(0L), (a, x) => a + x).as("abs_q"),
      l2Dist(vd, deq).as("err"))
  }

  def signPackStatic(v: Column, dim: Int): Column =
    (0 until math.min(dim, 64)).map { i =>
      when(element_at(asDouble(v), i + 1) > 0.0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Driver-side twin for literal query vectors. */
  def signPackOf(v: Seq[Double]): Long =
    v.take(64).zipWithIndex.foldLeft(0L) {
      case (w, (x, i)) => if (x > 0) w | (1L << i) else w
    }

  // ---- SQL-literal helpers for the DuckDB oracle ----------------------

  /** Exact decimal round-trip text for a double (Double.toString is the
    * shortest string that parses back to the same double in both JVMs
    * and DuckDB). */
  def sqlDouble(d: Double): String = {
    val s = java.lang.Double.toString(d)
    // DuckDB accepts E-notation; keep as-is.
    s
  }

  /** `[x1, x2, …]::DOUBLE[]` DuckDB list literal. */
  def sqlVec(v: Seq[Double]): String =
    v.map(sqlDouble).mkString("[", ", ", "]") + "::DOUBLE[]"

  /** DuckDB expression for dot(col, literal vec) in doubles. */
  def sqlDotLit(col: String, v: Seq[Double]): String =
    s"list_dot_product($col::DOUBLE[], ${sqlVec(v)})"

  /** DuckDB expression mirroring [[cosineDist]] against a literal query
    * vector — same formula shape: 1 - dot/(sqrt(dot_aa)*sqrt(dot_bb)).
    * NULLIF mirrors the engine's zero-norm guard (NULL vs NaN — both
    * sort last / fail > filters, documented divergence). */
  def sqlCosineDistLit(col: String, v: Seq[Double]): String = {
    val qq = v.foldLeft(0.0)((acc, x) => acc + x * x)
    s"(1.0 - ${sqlDotLit(col, v)} / " +
      s"NULLIF(sqrt(list_dot_product($col::DOUBLE[], $col::DOUBLE[])) * sqrt(${sqlDouble(qq)}), 0))"
  }

  /** DuckDB expression mirroring [[cosineSim]] against a literal query
    * vector (the similarity twin of [[sqlCosineDistLit]], same folded
    * ‖q‖² literal and zero-norm NULLIF guard). */
  def sqlCosineSimLit(col: String, v: Seq[Double]): String = {
    val qq = v.foldLeft(0.0)((acc, x) => acc + x * x)
    s"(${sqlDotLit(col, v)} / " +
      s"NULLIF(sqrt(list_dot_product($col::DOUBLE[], $col::DOUBLE[])) * sqrt(${sqlDouble(qq)}), 0))"
  }

  /** DuckDB expression mirroring [[l2Dist]] against a literal. */
  def sqlL2DistLit(col: String, v: Seq[Double]): String =
    s"list_distance($col::DOUBLE[], ${sqlVec(v)})"

  /** DuckDB cosine similarity between two list columns, same formula
    * shape as [[cosineSim]]. */
  def sqlCosineSimCols(a: String, b: String): String =
    s"(list_dot_product($a::DOUBLE[], $b::DOUBLE[]) / " +
      s"NULLIF(sqrt(list_dot_product($a::DOUBLE[], $a::DOUBLE[])) * " +
      s"sqrt(list_dot_product($b::DOUBLE[], $b::DOUBLE[])), 0))"

  /** DuckDB cosine distance between two list columns. */
  def sqlCosineDistCols(a: String, b: String): String =
    s"(1.0 - ${sqlCosineSimCols(a, b)})"

  /** DuckDB mirror of [[signPack]] (64-dim assumed ≥ actual). DuckDB's
    * checked `<<` rejects 1 << 63, so bit 63 is the min-long literal;
    * ascending series keeps all positive bits summed before it, so the
    * checked addition never overflows. */
  def sqlSignPack(col: String): String =
    s"list_reduce(list_transform(generate_series(0, 63), " +
      s"i -> CASE WHEN ($col::DOUBLE[])[i + 1] > 0 THEN " +
      s"(CASE WHEN i = 63 THEN (-9223372036854775808)::BIGINT ELSE (1::BIGINT << i) END) " +
      s"ELSE 0::BIGINT END), (a, b) -> a + b)"
}
