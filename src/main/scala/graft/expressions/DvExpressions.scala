package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.DeletionVector

/** Executor-side runtime for [[DvIsLive]] — a standalone object (no
  * companion class) so the generated Java calls land on real static
  * forwarders. */
object DvProbe {
  /** Interpreted-path memo; one per thread (expression instances may be
    * shared across tasks in interpreted fallback, and a racy shared
    * memo could pair one file's vector with another's rows). */
  final class State {
    var seen = false
    var lastFile: UTF8String = null
    var vec: Array[Long] = null
  }

  /** Decoded vector for `file`, or null when the file carries none.
    * Called once per FILE CHANGE in the row stream — this is the only
    * place the scan's UTF8String path is materialized to a JVM String,
    * so the per-row cost of the liveness probe is a UTF8String
    * equality check plus a binary search, never a conversion. */
  def vectorFor(map: Map[String, String], file: UTF8String): Array[Long] =
    map.get(file.toString) match {
      case Some(sidecar) => DeletionVector.load(sidecar)
      case None => null
    }

  def isLive(vec: Array[Long], p: Long): Boolean =
    vec == null || java.util.Arrays.binarySearch(vec, p) < 0
}

/** Codegen'd deletion-vector liveness probe: TRUE when `(file, pos)` is
  * not masked by `file`'s deletion vector. `dvByFile` maps the scan's
  * qualified `_metadata.file_path` rendering to the absolute sidecar
  * path; vectors decode lazily through [[DeletionVector.load]]'s
  * executor cache.
  *
  * Rows reach the filter file-by-file, so the generated code memoizes
  * the CURRENT file's decoded vector in mutable codegen state and
  * re-resolves only on file change: the steady-state per-row cost is
  * one UTF8String equality check (same-length memcmp of the memoized
  * path) and one `Arrays.binarySearch` over a `long[]`. The previous
  * formulation — a Scala UDF doing a per-row UTF8String→String
  * conversion, per-row Map probe, and breaking the WholeStageCodegen
  * span — measured ~500 ns/row (an 88–180× tax on a fully-dirty scan,
  * SCALE.md's MOR read-amplification measurement); this expression
  * keeps the scan inside the codegen span. */
case class DvIsLive(left: Expression, right: Expression,
    dvByFile: Map[String, String])
    extends BinaryExpression with Predicate {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dv_is_live expects (string, bigint), got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "graft_dv_is_live"

  @transient private lazy val threadState =
    ThreadLocal.withInitial[DvProbe.State](() => new DvProbe.State)

  override protected def nullSafeEval(f: Any, p: Any): Any = {
    val st = threadState.get()
    val u = f.asInstanceOf[UTF8String]
    if (!st.seen || !u.equals(st.lastFile)) {
      st.lastFile = u.clone()
      st.vec = DvProbe.vectorFor(dvByFile, u)
      st.seen = true
    }
    DvProbe.isLive(st.vec, p.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mapRef = ctx.addReferenceObj("dvByFile", dvByFile,
      "scala.collection.immutable.Map")
    val seen = ctx.addMutableState("boolean", "dvSeen")
    val lastFile = ctx.addMutableState("UTF8String", "dvLastFile")
    val vec = ctx.addMutableState("long[]", "dvVec")
    nullSafeCodeGen(ctx, ev, (f, p) => s"""
      |if (!$seen || !$f.equals($lastFile)) {
      |  $lastFile = $f.clone();
      |  $vec = graft.expressions.DvProbe.vectorFor($mapRef, $f);
      |  $seen = true;
      |}
      |${ev.value} = graft.expressions.DvProbe.isLive($vec, $p);
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}
