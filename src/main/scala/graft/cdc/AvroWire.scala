package graft.cdc

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.Row

/** One canonical-schema field of an Avro encode plan: where the field
  * lives in the ACTUAL input struct (`ord`, -1 = absent -> null branch),
  * its wire type, and the nested plan for record fields. Precomputed once
  * per plan (not per row) by [[AvroWireKernel.alignment]]. */
final class AvroFieldPlan(val ord: Int, val dt: DataType, val nActual: Int,
    val nested: Array[AvroFieldPlan]) extends Serializable

/** JVM kernel for the Confluent-framed Avro BINARY serde — shared by the
  * interpreted `eval` and generated code of [[AvroWireDecode]] /
  * [[AvroWireEncode]], so the two paths cannot drift. Works directly on
  * `InternalRow`/`UTF8String`: the serde runs inside the scan stage with
  * no external-Row encoder round-trip. */
object AvroWireKernel {

  /** Name-align an input struct to the canonical (registry) schema — the
    * same convention as Avro writer-schema resolution with all-optional
    * fields: a canonical field missing from the input encodes as the null
    * union branch; a present field must carry the canonical type exactly
    * (fail loud at PLAN time — a silently coerced money column is a wrong
    * answer, not a wrong row). Extra input fields are ignored. */
  def alignment(canonical: StructType, actual: StructType): Array[AvroFieldPlan] =
    canonical.fields.map { f =>
      actual.fields.indexWhere(_.name == f.name) match {
        case -1 => new AvroFieldPlan(-1, f.dataType, 0, null)
        case i =>
          (f.dataType, actual(i).dataType) match {
            case (c: StructType, a: StructType) =>
              new AvroFieldPlan(i, c, a.fields.length, alignment(c, a))
            case (c, a) if c == a => new AvroFieldPlan(i, c, 0, null)
            case (c, a) => throw new IllegalArgumentException(
              s"graft_avro_encode: field ${f.name} is ${a.catalogString} " +
                s"in the input but ${c.catalogString} in the wire schema")
          }
      }
    }

  private def writeVarLong(out: java.io.ByteArrayOutputStream, n: Long): Unit = {
    var z = (n << 1) ^ (n >> 63) // zigzag
    while ((z & ~0x7fL) != 0) { out.write(((z & 0x7f) | 0x80).toInt); z >>>= 7 }
    out.write(z.toInt)
  }

  private def encodeRecord(out: java.io.ByteArrayOutputStream,
      row: InternalRow, plan: Array[AvroFieldPlan]): Unit = {
    var i = 0
    while (i < plan.length) {
      val p = plan(i)
      if (p.ord < 0 || row.isNullAt(p.ord)) writeVarLong(out, 0L) // null branch
      else {
        writeVarLong(out, 1L)
        p.dt match {
          case LongType => writeVarLong(out, row.getLong(p.ord))
          case DoubleType =>
            val bits = java.lang.Double.doubleToLongBits(row.getDouble(p.ord))
            var b = 0
            while (b < 8) { out.write(((bits >> (8 * b)) & 0xff).toInt); b += 1 }
          case StringType =>
            val bytes = row.getUTF8String(p.ord).getBytes
            writeVarLong(out, bytes.length.toLong); out.write(bytes)
          case _: StructType =>
            encodeRecord(out, row.getStruct(p.ord, p.nActual), p.nested)
          case dt => throw new IllegalArgumentException(
            s"unsupported Avro field type $dt")
        }
      }
      i += 1
    }
  }

  /** Struct `InternalRow` -> Confluent frame (magic + BE schema id + body). */
  def encode(row: InternalRow, plan: Array[AvroFieldPlan],
      schemaIdNum: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(AvroWire.Magic.toInt)
    out.write((schemaIdNum >> 24) & 0xff); out.write((schemaIdNum >> 16) & 0xff)
    out.write((schemaIdNum >> 8) & 0xff); out.write(schemaIdNum & 0xff)
    encodeRecord(out, row, plan)
    out.toByteArray
  }

  private def decodeRecord(r: AvroWire.BinaryReader,
      schema: StructType): InternalRow = {
    val fields = schema.fields
    val vals = new Array[Any](fields.length)
    var i = 0
    while (i < fields.length) {
      if (r.readPresent()) {
        vals(i) = fields(i).dataType match {
          case LongType => r.readLong()
          case DoubleType => r.readDouble()
          case StringType => UTF8String.fromString(r.readString())
          case s: StructType => decodeRecord(r, s)
          case dt => throw new IllegalArgumentException(
            s"unsupported Avro field type $dt (field ${fields(i).name})")
        }
      }
      i += 1
    }
    new GenericInternalRow(vals)
  }

  /** Frame bytes -> struct `InternalRow` (null on any malformation — the
    * reference's LogAndContinue contract, like the permissive JSON seam). */
  def decode(frame: Array[Byte], schema: StructType): InternalRow =
    try {
      AvroWire.schemaId(frame) // validates magic + length
      decodeRecord(new AvroWire.BinaryReader(frame, 5), schema)
    } catch { case NonFatal(_) => null }
}

/** `graft_avro_decode_<schema>(value BINARY) -> envelope struct` — the
  * Confluent-framed Avro decode as a scan-stage Catalyst expression. The
  * wire schema rides in the PLAN as a reference object (same plan-constant
  * discipline as [[graft.functions.IvfAssign]]); rows flow through
  * whole-stage codegen with no external-Row encoder round-trip (the
  * `DataFrame.map` form this replaces deserialized every frame to a
  * `Row` and re-encoded the result). Malformed frames decode to null. */
case class AvroWireDecode(child: Expression, schema: StructType)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_avro_decode requires BINARY, got ${dt.catalogString}")
  }

  override def dataType: DataType = schema
  override def nullable: Boolean = true
  override def prettyName: String = "graft_avro_decode"

  override protected def nullSafeEval(in: Any): Any =
    AvroWireKernel.decode(in.asInstanceOf[Array[Byte]], schema)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val schemaRef = ctx.addReferenceObj("avroSchema", schema,
      classOf[StructType].getName)
    nullSafeCodeGen(ctx, ev, b => {
      val r = ctx.freshName("avroRow")
      s"""
         |org.apache.spark.sql.catalyst.InternalRow $r =
         |  graft.cdc.AvroWireKernel.decode($b, $schemaRef);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): AvroWireDecode =
    copy(child = c)
}

/** `graft_avro_encode_<schema>(envelope STRUCT) -> BINARY` — the inverse
  * scan-stage expression: name-aligns the input struct to the canonical
  * wire schema at plan time ([[AvroWireKernel.alignment]]) and emits
  * Confluent frames per row inside codegen. */
case class AvroWireEncode(child: Expression, schema: StructType,
    schemaIdNum: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case s: StructType =>
      try { AvroWireKernel.alignment(schema, s); TypeCheckResult.TypeCheckSuccess }
      catch {
        case e: IllegalArgumentException =>
          TypeCheckResult.TypeCheckFailure(e.getMessage)
      }
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_avro_encode requires a struct, got ${dt.catalogString}")
  }

  @transient private lazy val plan: Array[AvroFieldPlan] =
    AvroWireKernel.alignment(schema, child.dataType.asInstanceOf[StructType])

  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_avro_encode"

  override protected def nullSafeEval(in: Any): Any =
    AvroWireKernel.encode(in.asInstanceOf[InternalRow], plan, schemaIdNum)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planRef = ctx.addReferenceObj("avroPlan", plan,
      "graft.cdc.AvroFieldPlan[]")
    defineCodeGen(ctx, ev, b =>
      s"graft.cdc.AvroWireKernel.encode($b, $planRef, $schemaIdNum)")
  }

  override protected def withNewChildInternal(c: Expression): AvroWireEncode =
    copy(child = c)
}

/** Confluent-framed Avro BINARY serde — the registryless stand-in for
  * `from_avro`/`to_avro` + Schema Registry (reference
  * `serde/AvroSerdes.java:35-59`: magic byte, 4-byte big-endian schema id,
  * Avro binary body).
  *
  * The container ships no spark-avro jar, so this is a MINIMAL hand-written
  * Avro binary codec proving the wire seam against the real byte format
  * (GoldenWireSpec's fixtures), apart from the JSON wire: zigzag-varint
  * longs/ints, little-endian IEEE doubles, length-prefixed UTF-8 strings,
  * and `union [null, T]` branches — the Avro primitives a Debezium
  * envelope uses. The serde is DRIVEN BY the same [[Schemas]] StructTypes
  * the JSON path uses, with the Debezium-Connect convention that every
  * field is an optional `union [null, T]` (branch 0 = null, 1 = value),
  * so the decoded struct is column-for-column the `from_json` shape and
  * [[EnvelopeOps.parseTxnEnvelope]] runs on it unchanged. Encode aligns
  * input fields to the wire schema BY NAME (like `to_json`): a canonical
  * field the input lacks goes to the null branch, a type mismatch fails
  * at plan time.
  *
  * Production swap: `format("kafka")` + `from_avro(value, registrySchema)`
  * replaces [[decodeAvroEnvelope]] and `to_avro` replaces
  * [[encodeAvroEnvelope]]; everything downstream is already
  * schema-identical. Decode is permissive like the JSON seam: malformed
  * or truncated bodies yield a null envelope (dropped by
  * [[EnvelopeOps.upsertsOnly]]), never a failure — the reference's
  * LogAndContinue contract (`config/ABBankStreamsConfig.java:93-94`).
  */
object AvroWire {

  val Magic: Byte = 0x00

  /** Schema id of a Confluent frame (bytes 1-4, big-endian). */
  def schemaId(frame: Array[Byte]): Int = {
    require(frame.length >= 5 && frame(0) == Magic,
      "not a Confluent-framed payload (magic byte 0x00 + 4-byte schema id)")
    ((frame(1) & 0xff) << 24) | ((frame(2) & 0xff) << 16) |
      ((frame(3) & 0xff) << 8) | (frame(4) & 0xff)
  }

  /** Sequential reader over an Avro binary body. */
  final class BinaryReader(buf: Array[Byte], private var pos: Int) {
    private def next(): Int = {
      if (pos >= buf.length)
        throw new IllegalArgumentException("truncated Avro body")
      val b = buf(pos) & 0xff; pos += 1; b
    }

    /** Avro long/int: zigzag-encoded little-endian base-128 varint. */
    def readLong(): Long = {
      var shift = 0; var acc = 0L; var b = next()
      while ((b & 0x80) != 0) {
        acc |= (b & 0x7fL) << shift; shift += 7; b = next()
      }
      acc |= b.toLong << shift
      (acc >>> 1) ^ -(acc & 1) // zigzag decode
    }

    /** Avro double: 8 bytes, little-endian IEEE 754. */
    def readDouble(): Double = {
      var bits = 0L
      var i = 0
      while (i < 8) { bits |= next().toLong << (8 * i); i += 1 }
      java.lang.Double.longBitsToDouble(bits)
    }

    /** Avro string: varint byte length + UTF-8 bytes. */
    def readString(): String = {
      val n = readLong().toInt
      require(n >= 0 && pos + n <= buf.length, "truncated Avro string")
      val s = new String(buf, pos, n, "UTF-8"); pos += n; s
    }

    /** `union [null, T]` branch index: true iff the value branch. */
    def readPresent(): Boolean = readLong() match {
      case 0 => false
      case 1 => true
      case i => throw new IllegalArgumentException(s"union branch $i")
    }
  }

  private def fnameFor(prefix: String, schema: StructType, extra: Long): String =
    f"${prefix}_${graft.functions.Fnv1a64Helper.hashBytes(
      (schema.catalogString + "#" + extra).getBytes("UTF-8"))}%016x"

  /** S1 deserialization seam over the real wire format: a `value` BINARY
    * column carrying Confluent-framed Avro envelopes -> the same nested
    * `envelope` struct column [[EnvelopeOps.decodeJsonEnvelope]] produces
    * from JSON, decoded scan-stage by [[AvroWireDecode]]. Swap for
    * `from_avro` when the connector jar is present. */
  def decodeAvroEnvelope(wire: DataFrame,
      schema: StructType = Schemas.transactionEnvelope,
      valueCol: String = "value"): DataFrame = {
    val fname = fnameFor("graft_avro_decode", schema, 0L)
    wire.sparkSession.sessionState.functionRegistry.createOrReplaceTempFunction(
      fname,
      exprs => {
        require(exprs.size == 1, s"$fname takes 1 argument, got ${exprs.size}")
        AvroWireDecode(exprs.head, schema)
      },
      "built-in")
    // same parse-once fence as the JSON seam: keeps key-null filters from
    // being substituted into a second wire decode per row
    EnvelopeOps.parseFence(
      wire.select(expr(s"$fname($valueCol)").as("envelope")), "envelope")
  }

  /** S2 serialization seam over the real wire format: an `envelope` struct
    * column -> Confluent-framed Avro BINARY `value` via [[AvroWireEncode]]
    * (the byte shape a Kafka Avro sink publishes — swap for `to_avro` +
    * the registry client when the jars are present). Compose with
    * [[EnvelopeOps.kafkaWireFormat]]'s key projection for the full
    * (key, value) sink frame. Round-trip contract:
    * `decodeAvroEnvelope(encodeAvroEnvelope(env)) == env` up to name
    * alignment (GoldenWireSpec, against fixtures an independent encoder
    * authored). */
  def encodeAvroEnvelope(env: DataFrame,
      schema: StructType = Schemas.transactionEnvelope,
      schemaIdNum: Int = 1,
      envelopeCol: String = "envelope"): DataFrame = {
    val fname = fnameFor("graft_avro_encode", schema, schemaIdNum.toLong)
    env.sparkSession.sessionState.functionRegistry.createOrReplaceTempFunction(
      fname,
      exprs => {
        require(exprs.size == 1, s"$fname takes 1 argument, got ${exprs.size}")
        AvroWireEncode(exprs.head, schema, schemaIdNum)
      },
      "built-in")
    env.select(expr(s"$fname($envelopeCol)").as("value"))
  }
}
