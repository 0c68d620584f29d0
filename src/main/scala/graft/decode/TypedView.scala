package graft.decode

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Derives per-table *typed* DataFrames from the string-map envelope using
  * the wire-discovered relation schema (SURVEY.md §1.3 "typed view", the
  * Spark realization of the reference's dynamic pydantic models,
  * reader.py:274-292).
  *
  * The coercion table widens the reference's lossy 5-way map
  * (reader.py:61-72) to a faithful pg-oid → Catalyst mapping (SURVEY.md
  * §1.2): numerics keep precision/scale from atttypmod instead of
  * collapsing to float; bool/uuid/bytea stay faithful instead of `str`.
  * Everything stays a built-in `cast`/`to_timestamp` expression so the
  * projection is codegen'd by Catalyst — no UDFs.
  */
object TypedView {

  /** Common pg type oids (pg_catalog.pg_type — stable public constants). */
  object Oid {
    val Bool = 16; val Bytea = 17; val Int8 = 20; val Int2 = 21; val Int4 = 23
    val Text = 25; val Json = 114; val Float4 = 700; val Float8 = 701
    val Varchar = 1043; val Date = 1082; val Timestamp = 1114
    val Timestamptz = 1184; val Numeric = 1700; val Uuid = 2950; val Jsonb = 3802
  }

  /** pg oid + atttypmod → Catalyst type. Unknown oids fall through to
    * StringType exactly like the reference's catch-all (reader.py:71-72). */
  def sparkType(typeOid: Int, typeMod: Int): DataType = typeOid match {
    case Oid.Bool => BooleanType
    case Oid.Int2 => ShortType
    case Oid.Int4 => IntegerType
    case Oid.Int8 => LongType
    case Oid.Float4 => FloatType
    case Oid.Float8 => DoubleType
    case Oid.Numeric =>
      if (typeMod >= 4) {
        // atttypmod for numeric(p,s) = (p << 16 | s) + 4 (public pg headers)
        val m = typeMod - 4
        DecimalType(math.min((m >> 16) & 0xffff, 38), m & 0xffff)
      } else DecimalType(38, 18)
    case Oid.Date => DateType
    case Oid.Timestamp | Oid.Timestamptz => TimestampType
    case Oid.Bytea => BinaryType
    case _ => StringType // text, varchar, json(b), uuid, enums, arrays, …
  }

  /** bytea text → binary. A REAL server's pgoutput emits bytea through the
    * type's text output function: `\x` + hex under the default
    * `bytea_output = hex` (pinned live in LivePgSpec's type-matrix test;
    * the wire conduits additionally `SET bytea_output = hex` on their
    * walsender session so a cluster-level `escape` override cannot reach
    * the decoder). Synthetic envelopes may carry base64 instead; base64's
    * alphabet has no backslash, so the `\x` prefix dispatches
    * unambiguously. The base64 branch additionally requires
    * `length % 4 == 0` (base64 always pads to quads): legacy escape-format
    * text that slipped past the session pin is mostly printable bytes,
    * which the alphabet regex alone would silently mis-decode — the length
    * gate rejects 3 in 4 such strings (plus anything with an escape
    * sequence, whose backslash fails the alphabet check) while admitting
    * every properly padded synthetic value. A printable escape string of
    * quad length remains inherently ambiguous with valid base64; everything
    * detectably non-base64 yields NULL so `ofAfterValidated`'s cast_error
    * probe fires on it. */
  private def byteaColumn(raw: Column): Column =
    when(raw.startsWith("\\x"), unhex(raw.substr(lit(3), length(raw))))
      .when(raw.rlike("^[A-Za-z0-9+/]*={0,2}$") && length(raw) % 4 === 0,
        unbase64(raw))
      .otherwise(lit(null).cast(BinaryType))

  /** Text-format value → typed Column for one relation column. */
  def typedColumn(imageCol: Column, rc: RelationColumn): Column = {
    val raw = element_at(imageCol, rc.name)
    val t = sparkType(rc.typeOid, rc.typeMod)
    val typed = t match {
      case BinaryType => byteaColumn(raw)
      case TimestampType =>
        // pgoutput text like "2021-04-20 20:13:16.867121+00" — normalize the
        // abbreviated "+00" offset so Spark's cast accepts it.
        regexp_replace(raw, "([+-]\\d{2})$", "$100").cast(TimestampType)
      case other => raw.cast(other)
    }
    typed.as(rc.name)
  }

  /** Project the `after` image of `envelope` into a typed DataFrame with one
    * column per relation column (the read-side of the reference's
    * `table_model(**after)`, reader.py:327-336). */
  def ofAfter(envelope: DataFrame, rel: Relation): DataFrame =
    envelope.select(rel.columns.map(rc => typedColumn(col("after"), rc)): _*)

  /** Like [[typedColumn]] but null-on-malformed (`try_cast`) instead of the
    * session's ANSI error — the probe the validator uses to detect
    * uncoercible values without failing the job. */
  private def tryTypedColumn(imageCol: Column, rc: RelationColumn): Column = {
    val raw = element_at(imageCol, rc.name)
    sparkType(rc.typeOid, rc.typeMod) match {
      case StringType => raw
      case BinaryType => byteaColumn(raw)
      case TimestampType =>
        regexp_replace(raw, "([+-]\\d{2})$", "$100").try_cast(TimestampType)
      case other => raw.try_cast(other)
    }
  }

  /** Row validation — the engine's form of the reference's dynamic pydantic
    * models (T4, reader.py:274-292: required = NOT NULL columns, typed
    * coercion raises on bad values). Appends a `_errors array<string>`
    * column to the typed projection listing, per row:
    *  - `not_null:<col>` — a NOT NULL column is null or absent (an
    *    unchanged-TOAST column is NOT a violation: the value exists, it just
    *    wasn't resent);
    *  - `cast_error:<col>` — the text value fails coercion to the column's
    *    type.
    * Rows with `size(_errors) > 0` are the error channel: route them to a
    * dead-letter sink and keep the pipeline running — where the reference
    * throws and stops its single-threaded loop. */
  def ofAfterValidated(envelope: DataFrame, rel: Relation, notNull: Set[String]): DataFrame = {
    val img = col("after")
    val toasted = coalesce(col("after_toasted"), array())
    val errs = rel.columns.flatMap { rc =>
      val raw = element_at(img, rc.name)
      val castErr =
        if (sparkType(rc.typeOid, rc.typeMod) == StringType) None
        else Some(when(raw.isNotNull && tryTypedColumn(img, rc).isNull,
          lit(s"cast_error:${rc.name}")))
      val nullErr =
        if (notNull(rc.name))
          Some(when(raw.isNull && !array_contains(toasted, rc.name),
            lit(s"not_null:${rc.name}")))
        else None
      castErr ++ nullErr
    }
    val errArray =
      if (errs.isEmpty) array().cast(ArrayType(StringType))
      else filter(array(errs: _*), e => e.isNotNull)
    envelope.select(
      rel.columns.map(rc => tryTypedColumn(col("after"), rc).as(rc.name)) :+
        errArray.as("_errors"): _*)
  }

  /** Typed projection keeping envelope metadata columns alongside. */
  def withTyped(envelope: DataFrame, rel: Relation, image: String = "after"): DataFrame =
    envelope.select(
      (envelope.columns.map(col) ++
        rel.columns.map(rc => typedColumn(col(image), rc))): _*)
}
