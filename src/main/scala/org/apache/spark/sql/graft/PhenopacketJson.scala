package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Whole-packet GA4GH Phenopacket JSON rendering in ONE native
  * expression (ref: src/P6/mapper.py:793-910 — the reference builds a
  * protobuf per patient and serializes with MessageToJson).
  *
  * Why this exists: the declarative packet pipeline —
  * `to_json(struct(...transform(...)×5...))` — is proven
  * CodegenFallback-interpreted per row (BASELINE.md round 12: the
  * codegen dump shows StructsToJsonEvaluator behind an Invoke and all
  * five array `transform`s as interpreted HOF lambdas; splitting
  * projections cannot help because CollapseProject re-merges them).
  * At sf10 that interpreted projection was the registry's largest
  * absolute CPU term (38-95 s). This kernel renders the packet
  * straight from the five collected bundle arrays into a string
  * buffer: no intermediate struct materialization, no lambda
  * dispatch, one codegen'd call per patient.
  *
  * Byte-compatibility contract with the `to_json` form it replaces
  * (PipelineSpec pins equality against that form, kept as the
  * test-scope byte reference `PacketReference`, on mapped CLI bundles
  * AND on escape/null-heavy fixtures):
  *   - field order = the reference struct's field order (id, subject,
  *     phenotypic_features, interpretations, diseases, measurements,
  *     biosamples; nested orders as in `PacketReference`);
  *   - null fields are OMITTED (Spark's default
  *     spark.sql.jsonGenerator.ignoreNullFields=true), including a
  *     null bundle array omitting its whole field;
  *   - empty arrays render as [];
  *   - string escaping mirrors Jackson's defaults: `"` and `\`
  *     escaped, control chars as \b \t \n \f \r or uppercase \u00XX,
  *     everything else (incl. non-ASCII) passed through.
  *
  * Inputs: (patient_id string, phenotype_records, genotype_records,
  * disease_records, measurement_records, biosample_records), the
  * bundle arrays of [[graft.p6.Assemble.groupByPatient]] (canonical or
  * arrival order).
  * Genotype records must carry the per-row render columns `gnorm`
  * (normalized g. expression, F8) and `genocode` (GENO allelic-state
  * code, F12) — computed pre-shuffle by
  * [[graft.p6.Assemble.groupByPatient]], where they are plain
  * codegen'd column expressions on the narrow record frame, instead
  * of per-array-element HOF work post-collect.
  */
case class PhenopacketJson(children: Seq[Expression]) extends Expression {
  require(children.length == 6,
    "phenopacket_json(patient_id, phen, geno, dis, meas, bios)")

  override def dataType: DataType = StringType
  override def nullable: Boolean = children.head.nullable
  override def prettyName: String = "phenopacket_json"

  private def elem(i: Int): StructType =
    children(i).dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    def need(i: Int, fields: (String, DataType)*): Option[String] =
      children(i).dataType match {
        case ArrayType(st: StructType, _) =>
          fields.collectFirst {
            case (n, dt) if !st.fields.exists(f => f.name == n && f.dataType == dt) =>
              s"child $i needs field $n: ${dt.simpleString}"
          }
        case other => Some(s"child $i must be array<struct>, got ${other.simpleString}")
      }
    if (children.head.dataType != StringType)
      return TypeCheckFailure("patient_id must be string")
    val probs = Seq(
      need(1, "HPO_ID" -> StringType, "status" -> BooleanType),
      need(2, "zygosity" -> StringType, "gene_symbol" -> StringType,
        "gnorm" -> StringType, "genocode" -> StringType),
      need(3, "disease_term" -> StringType, "disease_label" -> StringType),
      need(4, "measurement_type" -> StringType),
      need(5, "biosample_id" -> StringType, "biosample_type" -> StringType)).flatten
    if (probs.isEmpty) TypeCheckSuccess else TypeCheckFailure(probs.mkString("; "))
  }

  // field ordinals resolved once per plan, not per row
  @transient private lazy val phN = elem(1).length
  @transient private lazy val phHpo = elem(1).fieldIndex("HPO_ID")
  @transient private lazy val phStatus = elem(1).fieldIndex("status")
  @transient private lazy val gN = elem(2).length
  @transient private lazy val gZyg = elem(2).fieldIndex("zygosity")
  @transient private lazy val gGene = elem(2).fieldIndex("gene_symbol")
  @transient private lazy val gNorm = elem(2).fieldIndex("gnorm")
  @transient private lazy val gCode = elem(2).fieldIndex("genocode")
  @transient private lazy val dN = elem(3).length
  @transient private lazy val dTerm = elem(3).fieldIndex("disease_term")
  @transient private lazy val dLabel = elem(3).fieldIndex("disease_label")
  @transient private lazy val mN = elem(4).length
  @transient private lazy val mType = elem(4).fieldIndex("measurement_type")
  @transient private lazy val bN = elem(5).length
  @transient private lazy val bId = elem(5).fieldIndex("biosample_id")
  @transient private lazy val bType = elem(5).fieldIndex("biosample_type")

  /** Jackson-compatible JSON string escape (see class doc). */
  private def esc(sb: java.lang.StringBuilder, s: UTF8String): Unit = {
    val str = s.toString
    var i = 0
    val n = str.length
    while (i < n) {
      val c = str.charAt(i)
      if (c == '"') sb.append("\\\"")
      else if (c == '\\') sb.append("\\\\")
      else if (c >= 0x20) sb.append(c)
      else c match {
        case '\b' => sb.append("\\b")
        case '\t' => sb.append("\\t")
        case '\n' => sb.append("\\n")
        case '\f' => sb.append("\\f")
        case '\r' => sb.append("\\r")
        case _ =>
          sb.append("\\u00")
          sb.append("0123456789ABCDEF".charAt((c >> 4) & 0xF))
          sb.append("0123456789ABCDEF".charAt(c & 0xF))
      }
      i += 1
    }
  }

  /** `,"name":"<escaped>"` with null omission; `first` tracks whether
    * the leading comma is needed inside the enclosing object.
    */
  private def strField(sb: java.lang.StringBuilder, first: Boolean,
      name: String, row: InternalRow, ord: Int): Boolean = {
    if (row.isNullAt(ord)) first
    else {
      if (!first) sb.append(',')
      sb.append('"').append(name).append("\":\"")
      esc(sb, row.getUTF8String(ord))
      sb.append('"')
      false
    }
  }

  def compute(pid: UTF8String, phen: ArrayData, geno: ArrayData,
      dis: ArrayData, meas: ArrayData, bios: ArrayData): UTF8String = {
    val sb = new java.lang.StringBuilder(512)
    sb.append("{\"id\":\"")
    esc(sb, pid)
    sb.append("\",\"subject\":{\"id\":\"")
    esc(sb, pid)
    sb.append("\"}")

    if (phen != null) {
      sb.append(",\"phenotypic_features\":[")
      var i = 0
      val n = phen.numElements()
      while (i < n) {
        if (i > 0) sb.append(',')
        if (phen.isNullAt(i)) sb.append("null")
        else {
          val r = phen.getStruct(i, phN)
          sb.append("{\"type\":{")
          strField(sb, first = true, "id", r, phHpo)
          sb.append('}')
          if (!r.isNullAt(phStatus)) {
            // excluded := !status (ref: src/P6/mapper.py:829-836)
            sb.append(",\"excluded\":")
              .append(if (r.getBoolean(phStatus)) "false" else "true")
          }
          sb.append('}')
        }
        i += 1
      }
      sb.append(']')
    }

    if (geno != null) {
      sb.append(",\"interpretations\":[")
      var i = 0
      val n = geno.numElements()
      while (i < n) {
        if (i > 0) sb.append(',')
        if (geno.isNullAt(i)) sb.append("null")
        else {
          val r = geno.getStruct(i, gN)
          sb.append("{\"id\":\"")
          esc(sb, pid)
          sb.append("-interpretation-").append(i)
          sb.append("\",\"progress_status\":\"COMPLETED\",\"diagnosis\":{")
          sb.append("\"genomic_interpretations\":[{\"subject_or_biosample_id\":\"")
          esc(sb, pid)
          sb.append("\",\"interpretation_status\":\"CONTRIBUTORY\"")
          sb.append(",\"variant_interpretation\":{\"variation_descriptor\":{")
          sb.append("\"expressions\":[")
          if (!r.isNullAt(gNorm)) {
            sb.append("{\"syntax\":\"hgvs\",\"value\":\"")
            esc(sb, r.getUTF8String(gNorm))
            sb.append("\"}")
          }
          sb.append("],\"allelic_state\":{")
          val f1 = strField(sb, first = true, "id", r, gCode)
          strField(sb, f1, "label", r, gZyg)
          sb.append("},\"gene_context\":{")
          strField(sb, first = true, "symbol", r, gGene)
          sb.append("}}}}]}}")
        }
        i += 1
      }
      sb.append(']')
    }

    if (dis != null) {
      sb.append(",\"diseases\":[")
      var i = 0
      val n = dis.numElements()
      while (i < n) {
        if (i > 0) sb.append(',')
        if (dis.isNullAt(i)) sb.append("null")
        else {
          val r = dis.getStruct(i, dN)
          sb.append("{\"term\":{")
          val f1 = strField(sb, first = true, "id", r, dTerm)
          strField(sb, f1, "label", r, dLabel)
          sb.append("}}")
        }
        i += 1
      }
      sb.append(']')
    }

    if (meas != null) {
      sb.append(",\"measurements\":[")
      var i = 0
      val n = meas.numElements()
      while (i < n) {
        if (i > 0) sb.append(',')
        if (meas.isNullAt(i)) sb.append("null")
        else {
          val r = meas.getStruct(i, mN)
          sb.append("{\"type\":{")
          strField(sb, first = true, "id", r, mType)
          sb.append("}}")
        }
        i += 1
      }
      sb.append(']')
    }

    if (bios != null) {
      sb.append(",\"biosamples\":[")
      var i = 0
      val n = bios.numElements()
      while (i < n) {
        if (i > 0) sb.append(',')
        if (bios.isNullAt(i)) sb.append("null")
        else {
          val r = bios.getStruct(i, bN)
          sb.append('{')
          val f1 = strField(sb, first = true, "id", r, bId)
          if (!f1) sb.append(',')
          sb.append("\"type\":{")
          strField(sb, first = true, "id", r, bType)
          sb.append("}}")
        }
        i += 1
      }
      sb.append(']')
    }

    sb.append('}')
    UTF8String.fromString(sb.toString)
  }

  override def eval(input: InternalRow): Any = {
    val pid = children.head.eval(input)
    if (pid == null) null
    else {
      def arr(i: Int): ArrayData =
        children(i).eval(input).asInstanceOf[ArrayData]
      compute(pid.asInstanceOf[UTF8String],
        arr(1), arr(2), arr(3), arr(4), arr(5))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pktJson", this, classOf[PhenopacketJson].getName)
    val evals = children.map(_.genCode(ctx))
    val arrArgs = (1 to 5).map(i =>
      s"${evals(i).isNull} ? null : ${evals(i).value}").mkString(", ")
    ev.copy(code =
      code"""
        ${evals.map(_.code).reduce(_ + _)}
        boolean ${ev.isNull} = ${evals.head.isNull};
        UTF8String ${ev.value} = null;
        if (!${ev.isNull}) {
          ${ev.value} = $ref.compute(${evals.head.value}, $arrArgs);
        }
      """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}
