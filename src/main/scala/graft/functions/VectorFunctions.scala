package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, UnaryExpression, XxHash64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Exprs
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

/** Integer-vector kernels for the similarity/dedup operators.
  *
  * A `zip_with + aggregate` HOF formulation pays interpreted-lambda
  * overhead per ELEMENT (~128 evals per 64-dim pair — measured 57 s
  * for 2M pairs at sf0.1). These expressions evaluate once per pair
  * with a tight primitive loop (~0.5 s for the same work), while the
  * surrounding join stays relational. Both implement doGenCode as a
  * static-helper call, so the candidate-pair projection they sit in
  * stays inside whole-stage codegen (CodegenFallback would split the
  * stage and box every row).
  */
object VectorFunctions {

  /** Static so generated code can call them directly. */
  def dot(l: ArrayData, r: ArrayData): Long = {
    val a = l.toLongArray()
    val b = r.toLongArray()
    val n = math.min(a.length, b.length)
    var s = 0L
    var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  def normSq(v: ArrayData): Long = {
    val a = v.toLongArray()
    var s = 0L
    var i = 0
    while (i < a.length) { s += a(i) * a(i); i += 1 }
    s
  }

  /** Σ aᵢ·bᵢ over two ARRAY<BIGINT> columns (shorter length wins). */
  case class DotProductL(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def nullSafeEval(l: Any, r: Any): Any =
      dot(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) =>
        s"graft.functions.VectorFunctions$$.MODULE$$.dot($a, $b)")
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): DotProductL = copy(left = l, right = r)
  }

  /** Σ aᵢ² over an ARRAY<BIGINT> column. */
  case class NormSqL(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any = normSq(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a =>
        s"graft.functions.VectorFunctions$$.MODULE$$.normSq($a)")
    override protected def withNewChildInternal(c: Expression): NormSqL =
      copy(child = c)
  }

  def dot_l(a: Column, b: Column): Column =
    Exprs.toColumn(DotProductL(Exprs.toExpression(a), Exprs.toExpression(b)))
  def norm_sq_l(a: Column): Column =
    Exprs.toColumn(NormSqL(Exprs.toExpression(a)))

  /** Static so generated code can call it: the near-dup cosine
    * verdict in ONE pass — dot ≥ 0 ∧ num·dot² ≥ thr·na·nb, all Long
    * arithmetic, bit-identical to the three-expression SQL spelling. */
  def cosineGate(l: ArrayData, r: ArrayData, na: Long, nb: Long,
                 num: Long, thr: Long): Boolean = {
    val d = dot(l, r)
    d >= 0 && num * d * d >= thr * na * nb
  }

  /** The embedding near-dup verification predicate as a single
    * expression. Spelled as column arithmetic
    * (`dot >= 0 && 400·dot² >= 49·na·nb` over `dot = dot_l(...)`),
    * Catalyst pushes the filter into the candidate join's CONDITION,
    * where codegen does no common-subexpression elimination — the
    * 64-element dot loop ran THREE times per candidate pair (measured:
    * the dominant cost of dedup_embedding_lsh's verify stage at
    * sf0.1's ~30M candidates). One expression, one loop. */
  case class CosineGateL(qa: Expression, qb: Expression,
                         na: Expression, nb: Expression,
                         num: Long, thr: Long)
      extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {
    override def first: Expression = qa
    override def second: Expression = qb
    override def third: Expression = na
    override def fourth: Expression = nb
    override def dataType: DataType = org.apache.spark.sql.types.BooleanType
    override def nullSafeEval(a: Any, b: Any, x: Any, y: Any): Any =
      cosineGate(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
        x.asInstanceOf[Long], y.asInstanceOf[Long], num, thr)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b, x, y) =>
        s"graft.functions.VectorFunctions$$.MODULE$$.cosineGate($a, $b, $x, $y, ${num}L, ${thr}L)")
    override protected def withNewChildrenInternal(
        f: Expression, s: Expression, t: Expression, q: Expression): CosineGateL =
      copy(qa = f, qb = s, na = t, nb = q)
  }

  def cosine_gate_l(qa: Column, qb: Column, na: Column, nb: Column,
                    num: Long, thr: Long): Column =
    Exprs.toColumn(CosineGateL(Exprs.toExpression(qa), Exprs.toExpression(qb),
      Exprs.toExpression(na), Exprs.toExpression(nb), num, thr))

  /** Static so generated code can call it: the decontamination probe
    * — which eval vectors gate against this train vector — in ONE
    * compiled pass. `evs` is the broadcast eval suite as an array of
    * struct(e_id BIGINT, eq ARRAY<BIGINT>, enn BIGINT); returns the
    * gating e_ids in suite order. The HOF spelling of the same probe
    * (transform + aggregate(zip_with) + filter) pays interpreted-
    * lambda overhead per ELEMENT — measured 266 s for the ×32 sweep's
    * 369M (pair × 64-dim) probes vs a tight primitive loop. */
  def evalHits(q: ArrayData, nn: Long, evs: ArrayData,
               num: Long, thr: Long): ArrayData = {
    val a = q.toLongArray()
    val n = evs.numElements()
    val hits = scala.collection.mutable.ArrayBuffer.empty[Long]
    var i = 0
    while (i < n) {
      val row = evs.getStruct(i, 3)
      val eq = row.getArray(1).toLongArray()
      val m = math.min(a.length, eq.length)
      var d = 0L
      var j = 0
      while (j < m) { d += a(j) * eq(j); j += 1 }
      if (d >= 0 && num * d * d >= thr * nn * row.getLong(2))
        hits += row.getLong(0)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(hits.toArray)
  }

  /** The one-pass decontamination probe as an expression (codegen'd
    * static call, same pattern as [[CosineGateL]]). */
  case class EvalHitsL(q: Expression, nn: Expression, evs: Expression,
                       num: Long, thr: Long)
      extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
    override def first: Expression = q
    override def second: Expression = nn
    override def third: Expression = evs
    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
    override def nullSafeEval(a: Any, b: Any, c: Any): Any =
      evalHits(a.asInstanceOf[ArrayData], b.asInstanceOf[Long],
        c.asInstanceOf[ArrayData], num, thr)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b, c) =>
        s"graft.functions.VectorFunctions$$.MODULE$$.evalHits($a, $b, $c, ${num}L, ${thr}L)")
    override protected def withNewChildrenInternal(
        f: Expression, s: Expression, t: Expression): EvalHitsL =
      copy(q = f, nn = s, evs = t)
  }

  def eval_hits_l(q: Column, nn: Column, evs: Column,
                  num: Long, thr: Long): Column =
    Exprs.toColumn(EvalHitsL(Exprs.toExpression(q), Exprs.toExpression(nn),
      Exprs.toExpression(evs), num, thr))

  /** Static so generated code can call it: nearest centroid over a
    * broadcast struct-array codebook — argmin of (nn + cn − 2·q·cq)
    * with cid tie-break, i.e. exactly `min(struct(d2, cid))` over the
    * crossJoined rows the former shuffle-side aggregate computed, in
    * ONE compiled pass per vector (the [[evalHits]] pattern). `ca` is
    * an array of struct(cid BIGINT, cq ARRAY<BIGINT>, cn BIGINT); the
    * fold's explicit lexicographic (d2, cid) comparison makes the
    * result independent of the array's collect order. Returns null
    * for an EMPTY codebook — callers filter, matching the zero rows a
    * crossJoin with an empty centroid table used to produce. */
  def nearestCid(q: ArrayData, nn: Long, ca: ArrayData): java.lang.Long = {
    val a = q.toLongArray()
    val n = ca.numElements()
    var bestD2 = 0L
    var bestCid = 0L
    var found = false
    var i = 0
    while (i < n) {
      val row = ca.getStruct(i, 3)
      val cid = row.getLong(0)
      val cq = row.getArray(1).toLongArray()
      val m = math.min(a.length, cq.length)
      var d = 0L
      var j = 0
      while (j < m) { d += a(j) * cq(j); j += 1 }
      val d2 = nn + row.getLong(2) - 2L * d
      if (!found || d2 < bestD2 || (d2 == bestD2 && cid < bestCid)) {
        bestD2 = d2; bestCid = cid; found = true
      }
      i += 1
    }
    if (found) java.lang.Long.valueOf(bestCid) else null
  }

  /** Map-side nearest-centroid assignment (see [[nearestCid]]). */
  case class NearestCidL(q: Expression, nn: Expression, ca: Expression)
      extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
    override def first: Expression = q
    override def second: Expression = nn
    override def third: Expression = ca
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def nullSafeEval(a: Any, b: Any, c: Any): Any =
      nearestCid(a.asInstanceOf[ArrayData], b.asInstanceOf[Long],
        c.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b, c) => {
        val tmp = ctx.freshName("graftNearest")
        s"""
        java.lang.Long $tmp =
          graft.functions.VectorFunctions$$.MODULE$$.nearestCid($a, $b, $c);
        if ($tmp == null) { ${ev.isNull} = true; }
        else { ${ev.value} = $tmp.longValue(); }
        """
      })
    override protected def withNewChildrenInternal(
        f: Expression, s: Expression, t: Expression): NearestCidL =
      copy(q = f, nn = s, ca = t)
  }

  def nearest_cid_l(q: Column, nn: Column, ca: Column): Column =
    Exprs.toColumn(NearestCidL(Exprs.toExpression(q), Exprs.toExpression(nn),
      Exprs.toExpression(ca)))

  /** Binary search of a (key1, key2)-sorted struct array for
    * (k1, k2); returns the struct's third long, or 0 when absent —
    * exactly the contribution an absent pair made through the inner
    * join + SUM spelling these folds replace. */
  private def sortedPairLookup(arr: ArrayData, k1: Long, k2: Long): Long = {
    var lo = 0
    var hi = arr.numElements() - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val row = arr.getStruct(mid, 3)
      var c = java.lang.Long.compare(row.getLong(0), k1)
      if (c == 0) c = java.lang.Long.compare(row.getLong(1), k2)
      if (c == 0) return row.getLong(2)
      else if (c < 0) lo = mid + 1
      else hi = mid - 1
    }
    0L
  }

  /** Static so generated code can call it: the ADC scan for one
    * vector of inverted list `cid`, in ONE compiled pass — for each
    * query PROBING that list, qcdot + Σ pdot[m, code] over the
    * vector's codes. `cds` holds one (m, code) struct per encoded
    * subspace; `luts` one struct per query: (query_id, nq,
    * prb ARRAY<STRUCT<cid, qcdot>> sorted by cid,
    * pda ARRAY<STRUCT<m, code, pdot>> sorted by (m, code)). A query
    * whose probe set misses `cid` emits NO row — the inner probe-join
    * semantics; within a probed list the adds are the exact algebra of
    * the (query_id, m, code) join + min(qcdot) + SUM(pdot) aggregate
    * (qcdot is constant per (query, list)). Codes are looked up by
    * their stored m, so a vector missing a subspace loses that one
    * term, exactly as the join did. Plain PQ is the one-list case:
    * cid 0 with a zero centroid, so qcdot is 0. */
  def ivfPqAdc(cds: ArrayData, cid: Long, luts: ArrayData): ArrayData = {
    val n = cds.numElements()
    val nQ = luts.numElements()
    val buf = scala.collection.mutable.ArrayBuffer.empty[Any]
    var qi = 0
    while (qi < nQ) {
      val q = luts.getStruct(qi, 4)
      val prb = q.getArray(2)
      // binary search the probe set for this vector's list
      var lo = 0
      var hi = prb.numElements() - 1
      var hit = -1
      while (lo <= hi && hit < 0) {
        val mid = (lo + hi) >>> 1
        val c = java.lang.Long.compare(prb.getStruct(mid, 2).getLong(0), cid)
        if (c == 0) hit = mid
        else if (c < 0) lo = mid + 1
        else hi = mid - 1
      }
      if (hit >= 0) {
        val pda = q.getArray(3)
        var adot = prb.getStruct(hit, 2).getLong(1)
        var i = 0
        while (i < n) {
          val mc = cds.getStruct(i, 2)
          adot += sortedPairLookup(pda, mc.getLong(0), mc.getLong(1))
          i += 1
        }
        buf += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](q.getLong(0), q.getLong(1), adot))
      }
      qi += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(buf.toArray)
  }

  /** Static so generated code can call it: the reconstructed norm
    * ‖x̂‖² = max(cn_coarse + 2·Σ xdot + Σ ccn, 1) from this vector's
    * (list, (m, code) codes) against the broadcast cross table `crx`
    * (struct(cid, m, code, xdot, ccn) sorted by the first three) and
    * centroid-norm table `cen` (struct(cid, cn) sorted by cid) — the
    * exact long algebra of the (cid, m, code) join + SUM it replaces,
    * in-row. x̂ is an exact integer vector, so ‖x̂‖² ≥ 0; the max(·, 1)
    * only guards the cosine division against a zero x̂. Codes are
    * looked up by their stored m, like [[ivfPqAdc]]. */
  def ivfPqNcHat(cds: ArrayData, cid: Long, crx: ArrayData,
                 cen: ArrayData): Long = {
    var lo = 0
    var hi = cen.numElements() - 1
    var cn = 0L
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val row = cen.getStruct(mid, 2)
      val c = java.lang.Long.compare(row.getLong(0), cid)
      if (c == 0) { cn = row.getLong(1); lo = hi + 1 }
      else if (c < 0) lo = mid + 1
      else hi = mid - 1
    }
    var xdot2 = 0L
    var ccn = 0L
    var i = 0
    while (i < cds.numElements()) {
      val mc = cds.getStruct(i, 2)
      val m = mc.getLong(0)
      val code = mc.getLong(1)
      // binary search crx for (cid, m, code)
      var l = 0
      var h = crx.numElements() - 1
      while (l <= h) {
        val mid = (l + h) >>> 1
        val row = crx.getStruct(mid, 5)
        var c = java.lang.Long.compare(row.getLong(0), cid)
        if (c == 0) c = java.lang.Long.compare(row.getLong(1), m)
        if (c == 0) c = java.lang.Long.compare(row.getLong(2), code)
        if (c == 0) { xdot2 += row.getLong(3); ccn += row.getLong(4); l = h + 1 }
        else if (c < 0) l = mid + 1
        else h = mid - 1
      }
      i += 1
    }
    math.max(cn + 2L * xdot2 + ccn, 1L)
  }

  /** The probe-filtered IVF-PQ ADC scan as an expression. */
  case class IvfPqAdcL(cds: Expression, cid: Expression, luts: Expression)
      extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
    override def first: Expression = cds
    override def second: Expression = cid
    override def third: Expression = luts
    override def dataType: DataType = {
      import org.apache.spark.sql.types._
      ArrayType(StructType(Seq(
        StructField("query_id", LongType, nullable = false),
        StructField("nq", LongType, nullable = false),
        StructField("adot", LongType, nullable = false))),
        containsNull = false)
    }
    override def nullSafeEval(a: Any, b: Any, c: Any): Any =
      ivfPqAdc(a.asInstanceOf[ArrayData], b.asInstanceOf[Long],
        c.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b, c) =>
        s"graft.functions.VectorFunctions$$.MODULE$$.ivfPqAdc($a, $b, $c)")
    override protected def withNewChildrenInternal(
        f: Expression, s: Expression, t: Expression): IvfPqAdcL =
      copy(cds = f, cid = s, luts = t)
  }

  /** The reconstructed-norm fold as an expression. */
  case class IvfPqNcHatL(cds: Expression, cid: Expression,
                         crx: Expression, cen: Expression)
      extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {
    override def first: Expression = cds
    override def second: Expression = cid
    override def third: Expression = crx
    override def fourth: Expression = cen
    override def dataType: DataType = LongType
    override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
      ivfPqNcHat(a.asInstanceOf[ArrayData], b.asInstanceOf[Long],
        c.asInstanceOf[ArrayData], d.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b, c, d) =>
        s"graft.functions.VectorFunctions$$.MODULE$$.ivfPqNcHat($a, $b, $c, $d)")
    override protected def withNewChildrenInternal(
        f: Expression, s: Expression, t: Expression, q: Expression): IvfPqNcHatL =
      copy(cds = f, cid = s, crx = t, cen = q)
  }

  def ivf_pq_adc_l(cds: Column, cid: Column, luts: Column): Column =
    Exprs.toColumn(IvfPqAdcL(Exprs.toExpression(cds), Exprs.toExpression(cid),
      Exprs.toExpression(luts)))
  def ivf_pq_nc_hat_l(cds: Column, cid: Column, crx: Column, cen: Column): Column =
    Exprs.toColumn(IvfPqNcHatL(Exprs.toExpression(cds), Exprs.toExpression(cid),
      Exprs.toExpression(crx), Exprs.toExpression(cen)))

  /** Hyperplane sign matrix: sign(j, i) ⟺ (xxhash64(j, i) & 1) = 1 —
    * the EXACT values the SQL `xxhash64(j, i)` formulation derives, so
    * codes are bit-identical to the HOF version this replaces
    * (spec-checked). Computed once per (planes, dims) per JVM via the
    * Catalyst expression itself, then served from cache. */
  private val signCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Boolean]]]()
  def hyperSigns(planes: Int, dims: Int): Array[Array[Boolean]] =
    signCache.computeIfAbsent((planes, dims), _ =>
      Array.tabulate(planes, dims) { (j, i) =>
        val h = XxHash64(Seq(Literal(j), Literal(i)), 42L)
          .eval(null).asInstanceOf[Long]
        (h & 1L) == 1L
      })

  /** Static so generated code can call it: bucket code over `planes`
    * hyperplanes — bit j set iff Σᵢ ±qᵢ > 0 under the sign matrix.
    * The interpreted nested-HOF formulation of the same computation
    * cost ~3 s for 5k×64-dim rows at the bench SF (it re-hashes
    * xxhash64 per element per row); this loop reads the cached signs. */
  def hyperCode(v: ArrayData, planes: Int): Int = {
    val a = v.toLongArray()
    val s = hyperSigns(planes, a.length)
    var code = 0
    var j = 0
    while (j < planes) {
      val row = s(j)
      var acc = 0L
      var i = 0
      while (i < a.length) { acc += (if (row(i)) a(i) else -a(i)); i += 1 }
      if (acc > 0) code |= 1 << j
      j += 1
    }
    code
  }

  /** Hyperplane-LSH bucket code of an ARRAY<BIGINT> vector. The code
    * is an Int bitset, so planes is capped at 31: `1 << 32` wraps to
    * 1 and plane 32 would silently alias plane 0, colliding genuinely
    * different vectors into one bucket with no error. */
  case class HyperplaneCode(child: Expression, planes: Int)
      extends UnaryExpression {
    require(planes >= 1 && planes <= 31,
      s"planes must be in [1, 31] (Int bitset), got $planes")
    override def dataType: DataType = IntegerType
    override def nullSafeEval(v: Any): Any =
      hyperCode(v.asInstanceOf[ArrayData], planes)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a =>
        s"graft.functions.VectorFunctions$$.MODULE$$.hyperCode($a, $planes)")
    override protected def withNewChildInternal(c: Expression): HyperplaneCode =
      copy(child = c)
  }

  def hyperplane_code(v: Column, planes: Int): Column =
    Exprs.toColumn(HyperplaneCode(Exprs.toExpression(v), planes))
}
