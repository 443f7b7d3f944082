package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native MinHash signature: sig[s] = min over shingle hashes h of
  * xxhash64(h, seed = s), for s in [0, k).
  *
  * This is the codegen'd replacement for a higher-order-function
  * formulation (one `aggregate` fold with a k-wide `zip_with` step): Catalyst evaluates
  * lambda functions interpretively (HOFs have no doGenCode), which put a
  * ~0.5 µs/element floor on the k×|shingles| inner loop — the dominant cost
  * of the MinHash bench query even after the one-pass rewrite. Here the
  * whole fold is a tight generated loop over the input ArrayData calling
  * the same XXH64 primitive Spark's own xxhash64 uses; it stays inside
  * WholeStageCodegen alongside the surrounding projection.
  *
  * Preference order per the build brief: built-in functions, then a native
  * Expression with doGenCode, then (never) a Scala UDF. MinHashSignatureExprSpec
  * checks the expression against a direct Scala reimplementation.
  */
case class MinHashSignatureExpr(child: Expression, k: Int)
    extends UnaryExpression {

  require(k > 0, "k must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    // containsNull accepted: real producers (ShingleHashExpr) emit
    // containsNull = false, but a parquet round-trip of the hashes comes
    // back nullable — null elements are SKIPPED (no minimum candidate),
    // never read as garbage; an array with NO contributing element (empty,
    // or all-null) yields a NULL signature
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"min_hash_signature needs array<bigint>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // nullable regardless of the child: a no-contribution input (empty or
  // all-null array) yields a NULL signature
  override def nullable: Boolean = true
  override def prettyName: String = "min_hash_signature"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val sig = Array.fill(k)(Long.MaxValue)
    var any = false
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        any = true
        val h = arr.getLong(i)
        var s = 0
        while (s < k) {
          val v = XXH64.hashLong(h, s.toLong)
          if (v < sig(s)) sig(s) = v
          s += 1
        }
      }
      i += 1
    }
    // no contributing shingle → NULL signature, not the all-MaxValue
    // sentinel: two degenerate documents must not become band-key-identical
    // "near duplicates" of each other (null sigs drop out of the banding
    // explode naturally)
    if (!any) null else new GenericArrayData(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val sig = ctx.freshName("sig")
      val any = ctx.freshName("any")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      val xxh = classOf[XXH64].getName
      s"""
         |long[] $sig = new long[$k];
         |java.util.Arrays.fill($sig, Long.MAX_VALUE);
         |boolean $any = false;
         |for (int $i = 0; $i < $arr.numElements(); $i++) {
         |  if ($arr.isNullAt($i)) continue;
         |  $any = true;
         |  long $h = $arr.getLong($i);
         |  for (int $s = 0; $s < $k; $s++) {
         |    long $v = $xxh.hashLong($h, (long) $s);
         |    if ($v < $sig[$s]) $sig[$s] = $v;
         |  }
         |}
         |if (!$any) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSignatureExpr =
    copy(child = newChild)
}

object MinHashSignatureExpr {
  /** Column-API entry point. */
  def signature(shingleHashes: Column, k: Int): Column =
    ColumnBridge.column(
      MinHashSignatureExpr(ColumnBridge.expression(shingleHashes), k))
}
