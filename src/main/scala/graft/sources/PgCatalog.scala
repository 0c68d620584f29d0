package graft.sources

import scala.collection.concurrent.TrieMap

import graft.decode.{Relation, RelationColumn, SchemaRegistry}

/** Catalog query helper — the reference's `SourceDBHandler` (U1,
  * utils.py:39-97): resolves human-readable pg type names
  * (`format_type(oid, atttypmod)`) and per-column NOT NULL flags
  * (`pg_attribute.attnotnull`) over a second, non-replication connection.
  *
  * The query runner is injected (`String => Seq[Seq[Any]]`), so the helper
  * is fully testable without a live database and pluggable over any JDBC
  * connection on the driver. Results are cached per (oid, typmod) /
  * (namespace, table) exactly like the reference's `MetadataStore.pg_types`
  * (stores.py:126,134-138) — catalog round-trips happen once per distinct
  * type, not once per Relation message. */
final class PgCatalog(runQuery: String => Seq[Seq[Any]]) extends Serializable {

  private val typeNames = TrieMap.empty[(Int, Int), String]
  private val notNulls = TrieMap.empty[(String, String), Set[String]]

  def typeName(typeOid: Int, typeMod: Int): String =
    typeNames.getOrElseUpdate((typeOid, typeMod),
      runQuery(PgCatalog.formatTypeSql(typeOid, typeMod)).head.head.toString)

  def notNullColumns(namespace: String, table: String): Set[String] =
    notNulls.getOrElseUpdate((namespace, table),
      runQuery(PgCatalog.attNotNullSql(namespace, table))
        // JDBC runners yield java.lang.Boolean ("true"); a raw-protocol
        // runner yields Postgres's TEXT form 't'/'f' — accept both
        // (caught live: toBoolean rejects "t")
        .filter(r => Set("true", "t", "1").contains(r(1).toString.toLowerCase))
        .map(_.head.toString).toSet)

  def cachedTypeCount: Int = typeNames.size

  /** The wire [[Relation]] a Relation message would carry for a live
    * table, built from the catalogs (pg_attribute + the primary-key index
    * + relreplident) — so table-level entry points (snapshot clone,
    * slot-loss recovery, the CLI recover verb) can be driven from a table
    * NAME alone instead of a hand-built Relation. */
  def relation(namespace: String, table: String): Relation = {
    val rows = runQuery(PgCatalog.relationSql(namespace, table))
    require(rows.nonEmpty, s"no such table: $namespace.$table")
    val cols = rows.map { r =>
      RelationColumn(
        Set("true", "t", "1").contains(r(1).toString.toLowerCase),
        r(0).toString, r(2).toString.toInt, r(3).toString.toInt)
    }.toVector
    Relation(rows.head(4).toString.toInt, namespace, table,
      rows.head(5).toString.head, cols)
  }
}

object PgCatalog {
  /** SQL string-literal escaping (single quotes doubled): identifiers such
    * as namespace/table names are interpolated as *literals* into catalog
    * queries, and a name containing a quote must not break the query or
    * inject SQL. */
  def sqlLiteral(s: String): String = "'" + s.replace("'", "''") + "'"

  /** Double-quoted Postgres identifier (embedded quotes doubled) — names
    * from config/options must not break or inject into generated SQL or
    * replication commands. */
  def quoteIdent(s: String): String = "\"" + s.replace("\"", "\"\"") + "\""

  /** Possibly schema-qualified name, quoted per dot-separated segment
    * ("public"."t") — the one convention for every SQL-emitting surface
    * (snapshot readers, the write-back sink). An identifier containing a
    * literal dot is not expressible: it always splits. */
  def quoteQualified(name: String): String =
    name.split('.').map(quoteIdent).mkString(".")

  /** The two catalog queries the reference issues (utils.py:79-94). */
  def formatTypeSql(typeOid: Int, typeMod: Int): String =
    s"SELECT format_type($typeOid, $typeMod)"

  def attNotNullSql(namespace: String, table: String): String =
    s"""SELECT a.attname, a.attnotnull
       |FROM pg_attribute a
       |JOIN pg_class c ON a.attrelid = c.oid
       |JOIN pg_namespace n ON c.relnamespace = n.oid
       |WHERE n.nspname = ${sqlLiteral(namespace)} AND c.relname = ${sqlLiteral(table)} AND a.attnum > 0
       |""".stripMargin

  /** Columns (name, pk membership, type oid, typmod) + relation oid +
    * replica identity for one table, attnum order — [[PgCatalog.relation]]'s
    * query (standard catalogs: pg_attribute / pg_index.indisprimary). */
  def relationSql(namespace: String, table: String): String =
    s"""SELECT a.attname,
       |       COALESCE((SELECT true FROM pg_index i
       |                 WHERE i.indrelid = c.oid AND i.indisprimary
       |                   AND a.attnum = ANY(i.indkey)), false),
       |       a.atttypid, a.atttypmod, c.oid, c.relreplident
       |FROM pg_attribute a
       |JOIN pg_class c ON a.attrelid = c.oid
       |JOIN pg_namespace n ON c.relnamespace = n.oid
       |WHERE n.nspname = ${sqlLiteral(namespace)} AND c.relname = ${sqlLiteral(table)}
       |  AND a.attnum > 0 AND NOT a.attisdropped
       |ORDER BY a.attnum
       |""".stripMargin
}

/** Durable form of the schema registry (K3): persisted beside the stream's
  * checkpoint so a restart does not depend on Postgres re-sending Relation
  * messages (the reference re-learns schemas per process; stores.py:121-156
  * is in-memory only). Versioned, escape-safe line format — no JSON library
  * exists in the offline dependency set. */
object SchemaRegistryCheckpoint {

  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")
  private def unesc(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 't' => sb += '\t'; case 'n' => sb += '\n'; case c => sb += c
        }
        i += 2
      } else { sb += s.charAt(i); i += 1 }
    }
    sb.toString
  }

  def serialize(registry: SchemaRegistry): String = {
    val sb = new StringBuilder("graft-schema-registry\tv1\n")
    registry.all.toSeq.sortBy(_._1).foreach { case (_, r) =>
      sb.append(s"R\t${r.relationId}\t${esc(r.namespace)}\t${esc(r.name)}\t${r.replicaIdentity}\n")
      r.columns.foreach { c =>
        sb.append(s"C\t${r.relationId}\t${if (c.partOfKey) 1 else 0}\t${esc(c.name)}\t${c.typeOid}\t${c.typeMod}\n")
      }
    }
    sb.toString
  }

  def deserialize(text: String): SchemaRegistry = {
    val registry = new SchemaRegistry
    val lines = text.linesIterator.toSeq
    require(lines.headOption.exists(_.startsWith("graft-schema-registry\tv1")),
      "not a v1 schema-registry checkpoint")
    val rels = scala.collection.mutable.LinkedHashMap.empty[Int, (String, String, Char)]
    val cols = scala.collection.mutable.Map.empty[Int, Vector[RelationColumn]]
    lines.drop(1).filter(_.nonEmpty).foreach { line =>
      line.split("\t", -1).toSeq match {
        case Seq("R", id, ns, name, ri) =>
          rels(id.toInt) = (unesc(ns), unesc(name), ri.head)
        case Seq("C", id, pk, name, oid, tmod) =>
          val rid = id.toInt
          cols(rid) = cols.getOrElse(rid, Vector.empty) :+
            RelationColumn(pk == "1", unesc(name), oid.toInt, tmod.toInt)
        case other => throw new IllegalArgumentException(s"bad registry line: $other")
      }
    }
    rels.foreach { case (id, (ns, name, ri)) =>
      registry.update(Relation(id, ns, name, ri, cols.getOrElse(id, Vector.empty)))
    }
    registry
  }

  def save(registry: SchemaRegistry, path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, serialize(registry))
  }

  def load(path: String): SchemaRegistry =
    deserialize(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
}
