package graft.streaming

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

import scala.reflect.runtime.universe.TypeTag
import scala.util.Try

/** Decode plug-in — the engine's equivalent of the reference's
  * caller-supplied protobuf `Parser<T>` (KPW:85-89, applied at
  * KPW:269-277). The reference fail-stops on an undecodable record
  * (KPW:272-277, acknowledged TODO); here each codec chooses a
  * [[DecodeErrorPolicy]]: FailFast reproduces the reference,
  * DeadLetter routes nulls to a quarantine output instead.
  *
  * Codecs are pure `Column → Column` transforms, so decode is one
  * expression in the micro-batch plan: [[JsonCodec]]/[[CsvCodec]] use
  * Spark's own parsers and [[ProtoCodec]] its native `ProtoDecode`
  * expression, all writing Catalyst rows directly. [[TypedCodec]],
  * the generic escape hatch for opaque binary formats, pays the UDF
  * cost by design: a Scala object per record, converted back to a
  * Catalyst row.
  */
sealed trait DecodeErrorPolicy
object DecodeErrorPolicy {
  /** Undecodable record fails the query (reference semantics). */
  case object FailFast extends DecodeErrorPolicy
  /** Undecodable record decodes to null; `Pipeline` filters it to a
    * dead-letter sink. */
  case object DeadLetter extends DecodeErrorPolicy
}

trait RecordCodec {
  def schema: StructType

  /** bytes column → struct column of [[schema]].
    *
    * Contract: the result is null **iff the record is undecodable** —
    * a record that parses but carries only null field values is a
    * valid record and must decode to a non-null struct. (Parsers with
    * a PERMISSIVE mode distinguish the two via a corrupt-record
    * column; see [[JsonCodec]].)
    */
  def decode(bytes: Column): Column
}

private[streaming] object RecordCodec {
  /** Corrupt-record marker column used internally by the parsing
    * codecs; never visible in decoded output. */
  val CorruptCol = "_graft_corrupt"

  /** Null out the struct when the parser flagged the record corrupt,
    * otherwise re-project to the clean schema (drops the marker).
    * `parsed` must follow `schema` + the marker column.
    */
  def stripCorrupt(parsed: Column, schema: StructType): Column =
    when(parsed.isNull || parsed.getField(CorruptCol).isNotNull,
      lit(null).cast(schema))
      .otherwise(struct(schema.fields.toIndexedSeq.map(f =>
        parsed.getField(f.name).as(f.name)): _*))
}

/** JSON payloads (UTF-8 bytes). Parsed in PERMISSIVE mode with a
  * corrupt-record column so a genuinely unparsable record decodes to
  * null while a valid record whose every field is null (e.g.
  * `{"query":null,"timestamp":null}`) stays a non-null struct —
  * the distinction DeadLetter/FailFast policies key on.
  */
final case class JsonCodec(schema: StructType) extends RecordCodec {
  require(!schema.fieldNames.contains(RecordCodec.CorruptCol),
    s"schema must not contain reserved column ${RecordCodec.CorruptCol}")
  override def decode(bytes: Column): Column = {
    val withCorrupt = schema.add(RecordCodec.CorruptCol, StringType)
    val parsed = from_json(bytes.cast("string"), withCorrupt,
      Map("mode" -> "PERMISSIVE",
        "columnNameOfCorruptRecord" -> RecordCodec.CorruptCol))
    RecordCodec.stripCorrupt(parsed, schema)
  }
}

/** Single-line CSV payloads. Same corrupt-record discipline as
  * [[JsonCodec]] — a malformed line decodes to null, a parseable
  * line of empty fields does not.
  */
final case class CsvCodec(schema: StructType, sep: String = ",") extends RecordCodec {
  require(!schema.fieldNames.contains(RecordCodec.CorruptCol),
    s"schema must not contain reserved column ${RecordCodec.CorruptCol}")
  override def decode(bytes: Column): Column = {
    val withCorrupt = schema.add(RecordCodec.CorruptCol, StringType)
    val parsed = from_csv(bytes.cast("string"), withCorrupt,
      Map("sep" -> sep, "mode" -> "PERMISSIVE",
        "columnNameOfCorruptRecord" -> RecordCodec.CorruptCol))
    RecordCodec.stripCorrupt(parsed, schema)
  }
}

/** Arbitrary binary formats via a caller-supplied decoder function —
  * the direct analog of the reference's `Parser<T>` plug-in point.
  * Production protobuf wiring note: with `spark-protobuf` on the
  * classpath this is `from_protobuf(col, messageName, descFile)`
  * (the jar is not in the offline test environment, so the seam is
  * exercised with [[TypedCodec]] + a hand-rolled binary format in
  * tests instead).
  */
final case class TypedCodec[T <: Product: TypeTag](decodeFn: Array[Byte] => T)
    extends RecordCodec {
  private val enc: Encoder[T] = Encoders.product[T]
  override val schema: StructType = enc.schema
  // a throwing decoder means "undecodable" (null struct), so the
  // error-policy machinery sees the same contract as parsing codecs
  private val u = udf((b: Array[Byte]) => Try(decodeFn(b)).toOption)
  override def decode(bytes: Column): Column = u(bytes)
}
