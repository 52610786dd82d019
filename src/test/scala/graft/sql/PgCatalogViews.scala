package graft.sql

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.functions.FormatTypeExpression
import graft.sql.PgCatalogRelations.{typnameOfOid, userOid}

/** Minimal pg_catalog / mz catalog introspection relations over the engine
  * catalog, as the sqllogictest harness's session emulation registers them
  * (reference `src/catalog/src/builtin.rs`: PG_TYPE, PG_CLASS,
  * PG_ATTRIBUTE, PG_NAMESPACE ... defined as views over mz internals; here
  * they are metadata-only DataFrames rebuilt on demand from the live Spark
  * catalog). `spark.sql` alone never registers them.
  *
  * Type rows come from the engine's type table
  * ([[PgCatalogRelations]]); custom types (CREATE TYPE ... AS
  * LIST/MAP/record) are appended with user oids >= 20000.
  *
  * Scale: every relation here is driver-side metadata (#tables + #columns
  * rows) — never a distributed scan, so registration cost is microseconds
  * and independent of data volume.
  */
object PgCatalogViews {

  /** One registered custom type: (typname, typelem oid or 0, typtype). */
  final case class CustomTypeRow(name: String, typelem: Int, typtype: String)

  private val typeSchema = StructType(Seq(
    StructField("oid", IntegerType, nullable = false),
    StructField("typname", StringType, nullable = false),
    StructField("typtype", StringType, nullable = false),
    StructField("typcategory", StringType, nullable = false),
    StructField("typelem", IntegerType, nullable = false),
    StructField("typbasetype", IntegerType, nullable = false),
    StructField("typnamespace", IntegerType, nullable = false),
    StructField("typlen", IntegerType, nullable = false),
    StructField("typnotnull", BooleanType, nullable = false),
    StructField("typreceive", IntegerType, nullable = false)))

  /** (oid, typname, typtype, typcategory, typelem, typbasetype) of every
    * type in the engine's type table. */
  private val builtinTypes: Seq[(Int, String, String, String, Int, Int)] = {
    val pseudo = Seq(16_010, 16_011) // list, map (reference mz_types: typelem = 0)
    val bases = typnameOfOid.filter { case (oid, _) =>
      !FormatTypeExpression.arrayElem.contains(oid) && !pseudo.contains(oid)
    }.map { case (oid, n) =>
      val cat = oid match {
        case 16 => "B"
        case 20 | 21 | 23 | 700 | 701 | 1700 | 26 => "N"
        case 18 | 19 | 25 | 1042 | 1043 => "S"
        case 1082 | 1083 | 1114 | 1184 => "D"
        case 1186 => "T"
        case 3904 | 3906 | 3908 | 3910 | 3912 | 3926 => "R"
        case _ => "U"
      }
      val typtype = if (cat == "R") "r" else if (oid == 2249) "c" else "b"
      (oid, n, typtype, cat, 0, 0)
    }.toSeq
    val arrays = FormatTypeExpression.arrayElem.toSeq.collect {
      case (arrOid, elemOid) if typnameOfOid.contains(arrOid) =>
        (arrOid, typnameOfOid(arrOid), "b", "A", elemOid, 0)
    }
    bases ++ arrays ++ pseudo.map(oid => (oid, typnameOfOid(oid), "p", "P", 0, 0))
  }

  def pgType(spark: SparkSession, custom: Seq[CustomTypeRow]): DataFrame = {
    val ns = 11 // pg_catalog
    val rows = builtinTypes.map { case (oid, n, tt, cat, el, bt) =>
      Row(oid, n, tt, cat, el, bt, ns, -1, false, 0)
    } ++ custom.map(c =>
      Row(userOid(c.name), c.name, c.typtype, "U", c.typelem, 0, 2200, -1, false, 0))
    spark.createDataFrame(new java.util.ArrayList[Row](
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), typeSchema)
  }

  /** Spark field -> pg type oid, honoring the engine's marker comments
    * (graft_jsonb / graft_range_* / graft_uint*) left by the DDL shims. */
  def oidOfField(f: StructField): Int = {
    val marker = if (f.metadata.contains("comment")) f.metadata.getString("comment") else ""
    if (marker == "graft_jsonb") 3802
    else if (marker.startsWith("graft_range_")) marker.stripPrefix("graft_range_") match {
      case "int4range" => 3904; case "int8range" => 3926; case "numrange" => 3906
      case "daterange" => 3912; case "tsrange" => 3908; case _ => 3910
    }
    else f.dataType match {
      case BooleanType => 16
      case ByteType | ShortType => 21
      case IntegerType => 23
      case LongType => 20
      case FloatType => 700
      case DoubleType => 701
      case _: DecimalType => 1700
      case StringType => 25
      case BinaryType => 17
      case DateType => 1082
      case TimestampType | TimestampNTZType => 1114
      case ArrayType(e, _) =>
        val elemOid = oidOfField(StructField(f.name, e))
        FormatTypeExpression.arrayElem.collectFirst {
          case (arr, el) if el == elemOid => arr
        }.getOrElse(2277)
      case _ => 25
    }
  }

  /** The relations of the current session: (name, relkind, schema). relkind
    * follows pg: r = table, v = view (temp views included — they are this
    * engine's session relations), i = index. */
  private def relations(spark: SparkSession): Seq[(String, String, StructType)] = {
    val tables = spark.catalog.listTables().collect().toSeq
      .filterNot(t => t.name.startsWith("graft_")) // engine-internal helpers
      .map { t =>
        val kind = if (t.tableType == "VIEW" || t.tableType == "TEMPORARY") "v" else "r"
        val schema = try spark.table(t.name).schema catch { case _: Throwable => new StructType() }
        (t.name, kind, schema)
      }
    val indexes = GraftSqlCatalog.indexesFor(spark).keys.toSeq.map(n =>
      (n, "i", new StructType()))
    tables ++ indexes
  }

  private val classSchema = StructType(Seq(
    StructField("oid", IntegerType, nullable = false),
    StructField("relname", StringType, nullable = false),
    StructField("relnamespace", IntegerType, nullable = false),
    StructField("reloftype", IntegerType, nullable = false),
    StructField("relam", IntegerType, nullable = false),
    StructField("reltablespace", IntegerType, nullable = false),
    StructField("reltoastrelid", IntegerType, nullable = false),
    StructField("relhasindex", BooleanType, nullable = false),
    StructField("relpersistence", StringType, nullable = false),
    StructField("relkind", StringType, nullable = false),
    StructField("relnatts", IntegerType, nullable = false),
    StructField("relchecks", IntegerType, nullable = false),
    StructField("relhasrules", BooleanType, nullable = false),
    StructField("relhastriggers", BooleanType, nullable = false),
    StructField("relrowsecurity", BooleanType, nullable = false),
    StructField("relforcerowsecurity", BooleanType, nullable = false),
    StructField("relreplident", StringType, nullable = false),
    StructField("relispartition", BooleanType, nullable = false),
    StructField("relhasoids", BooleanType, nullable = false),
    StructField("reltuples", IntegerType, nullable = false)))

  /** The ambient pg_catalog relations list themselves (the corpus checks
    * pg_class contains 'pg_class'), with their own schemas so pg_attribute
    * is never empty in a fresh session (`SELECT count(*) FROM pg_attribute`
    * over a pristine catalog must see the catalog itself). */
  private def ambientSchemas: Seq[(String, StructType)] = Seq(
    ("pg_type", typeSchema), ("pg_class", classSchema),
    ("pg_attribute", attrSchema), ("pg_namespace", nsSchema),
    ("pg_index", indexSchema))
  private def ambient: Seq[String] = ambientSchemas.map(_._1)

  /** The reference allocates sequential user item ids (u1, u2, ...); the
    * session emulation numbers relations in (deterministic) listing order.
    * Always derived from ONE relations() snapshot per register() call —
    * re-listing mid-registration would see the partially-created catalog
    * temp views and hand the same object different ids in mz_comments /
    * mz_indexes.on_id than in mz_objects.id. */
  def userIdsOf(rels: Seq[(String, String, StructType)]): Map[String, String] =
    rels.map(_._1).sorted.zipWithIndex
      .map { case (n, i) => n -> s"u${i + 1}" }.toMap

  def pgClass(spark: SparkSession, sltIndexes: Seq[(String, String)],
      rels: Seq[(String, String, StructType)]): DataFrame = {
    val idxRows = sltIndexes.map { case (n, on) =>
      val natts = try spark.table(on).schema.length catch { case _: Throwable => 0 }
      Row(userOid(n), n, 2200, 0, 0, 0, 0, false, "p", "i",
        natts, 0, false, false, false, false, "d", false, false, -1)
    }
    val rows = idxRows ++ rels.map { case (name, kind, schema) =>
      Row(userOid(name), name, 2200, 0, 0, 0, 0, false, "p", kind,
        schema.length, 0, false, false, false, false, "d", false, false, -1)
    } ++ ambient.map(n =>
      Row(userOid(n), n, 11, 0, 0, 0, 0, false, "p", "v",
        0, 0, false, false, false, false, "d", false, false, -1))
    spark.createDataFrame(new java.util.ArrayList[Row](
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), classSchema)
  }

  private val attrSchema = StructType(Seq(
    StructField("attrelid", IntegerType, nullable = false),
    StructField("attname", StringType, nullable = false),
    StructField("atttypid", IntegerType, nullable = false),
    StructField("attlen", IntegerType, nullable = false),
    StructField("attnum", IntegerType, nullable = false),
    StructField("atttypmod", IntegerType, nullable = false),
    StructField("attnotnull", BooleanType, nullable = false),
    StructField("atthasdef", BooleanType, nullable = false),
    StructField("attisdropped", BooleanType, nullable = false),
    StructField("attgenerated", StringType, nullable = false),
    StructField("attndims", IntegerType, nullable = false)))

  def pgAttribute(spark: SparkSession,
      rels: Seq[(String, String, StructType)]): DataFrame = {
    val rows = (rels ++
      ambientSchemas.map { case (n, sch) => (n, "v", sch) }).flatMap { case (name, _, schema) =>
      schema.fields.toIndexedSeq.zipWithIndex.map { case (f, i) =>
        val ndims = f.dataType match { case _: ArrayType => 1; case _ => 0 }
        Row(userOid(name), f.name, oidOfField(f), -1, i + 1, -1,
          !f.nullable, true, false, "", ndims)
      }
    }
    spark.createDataFrame(new java.util.ArrayList[Row](
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), attrSchema)
  }

  private val nsSchema = StructType(Seq(
    StructField("oid", IntegerType, nullable = false),
    StructField("nspname", StringType, nullable = false),
    StructField("nspowner", IntegerType, nullable = true),
    StructField("nspacl", StringType, nullable = true)))

  /** The reference's ambient schema set (pg_catalog_namespace.slt). */
  def pgNamespace(spark: SparkSession): DataFrame = {
    val rows = Seq(
      Row(2200, "public", 1, null),
      Row(11, "pg_catalog", 1, null),
      Row(13000, "information_schema", 1, null),
      Row(16656, "mz_catalog", 1, null),
      Row(16657, "mz_internal", 1, null),
      Row(16658, "mz_introspection", 1, null),
      Row(16659, "mz_unsafe", 1, null),
      Row(16660, "mz_catalog_unstable", 1, null))
    spark.createDataFrame(new java.util.ArrayList[Row](
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), nsSchema)
  }

  private val indexSchema = StructType(Seq(
    StructField("indexrelid", IntegerType, nullable = false),
    StructField("indrelid", IntegerType, nullable = false),
    StructField("indisprimary", BooleanType, nullable = false),
    StructField("indisunique", BooleanType, nullable = false),
    StructField("indkey", ArrayType(IntegerType), nullable = false)))

  def pgIndex(spark: SparkSession, sltIndexes: Seq[(String, String)]): DataFrame = {
    val rows = (GraftSqlCatalog.indexesFor(spark).toSeq.map(e => (e._1, e._2.rel)) ++
      sltIndexes).map { case (n, on) =>
      Row(userOid(n), userOid(on), false, false, Seq.empty[Int])
    }
    spark.createDataFrame(new java.util.ArrayList[Row](
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), indexSchema)
  }

  private val indexesSchema = StructType(Seq(
    StructField("table_catalog", StringType, nullable = false),
    StructField("schemaname", StringType, nullable = false),
    StructField("tablename", StringType, nullable = false),
    StructField("indexname", StringType, nullable = false),
    StructField("tablespace", StringType, nullable = true),
    StructField("indexdef", StringType, nullable = true)))

  /** pg_catalog.pg_indexes (reference builtin/pg_catalog.rs:1419): one row
    * per index with NULL tablespace/indexdef, exactly as the reference's
    * view renders them. */
  def pgIndexes(spark: SparkSession, sltIndexes: Seq[(String, String)]): DataFrame = {
    val rows = (GraftSqlCatalog.indexesFor(spark).toSeq.map(e => (e._1, e._2.rel)) ++
      sltIndexes).map { case (n, on) => Row("materialize", "public", on, n, null, null) }
    spark.createDataFrame(new java.util.ArrayList[Row](
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), indexesSchema)
  }

  private val mzObjSchema = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("oid", IntegerType, nullable = false),
    StructField("schema_id", StringType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("type", StringType, nullable = false)))

  /** mz_tables / mz_views / mz_objects: the reference's own catalog
    * relations (`src/catalog/src/builtin.rs` MZ_TABLES et al.) — the corpus
    * uses them to resolve oids, e.g.
    * `attrelid = (SELECT oid FROM mz_tables WHERE name = 't')`. */
  def mzObjects(spark: SparkSession, only: Option[String],
      rels: Seq[(String, String, StructType)],
      ids: Map[String, String]): DataFrame = {
    val rows = rels
      .filter { case (_, k, _) => only.forall(o =>
        (o == "table" && k == "r") || (o == "view" && k == "v") ||
          (o == "index" && k == "i")) }
      .map { case (name, kind, _) =>
        val ty = kind match {
          case "r" => "table"; case "v" => "view"; case _ => "index"
        }
        Row(ids.getOrElse(name, "u0"), userOid(name), "u3", name, ty)
      }
    spark.createDataFrame(new java.util.ArrayList[Row](
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), mzObjSchema)
  }

  private val mzIndexSchema = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("oid", IntegerType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("on_id", StringType, nullable = false)))

  def mzIndexes(spark: SparkSession, sltIndexes: Seq[(String, String)],
      ids: Map[String, String]): DataFrame = {
    val rows = (GraftSqlCatalog.indexesFor(spark).toSeq.map(e => (e._1, e._2.rel)) ++
      sltIndexes).map { case (n, on) =>
      Row(ids.getOrElse(n, "u0"), userOid(n), n, ids.getOrElse(on, "u0"))
    }
    spark.createDataFrame(new java.util.ArrayList[Row](
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), mzIndexSchema)
  }

  private val descSchema = StructType(Seq(
    StructField("objoid", IntegerType, nullable = false),
    StructField("classoid", IntegerType, nullable = false),
    StructField("objsubid", IntegerType, nullable = false),
    StructField("description", StringType, nullable = false)))

  /** pg_description over the COMMENT ON registry: objsubid 0 = the object,
    * n = column attnum (pg semantics; reference surfaces the same rows
    * through mz_internal.mz_comments). */
  def pgDescription(spark: SparkSession): DataFrame = {
    val meta = GraftSqlCatalog.commentMetaFor(spark)
    val rows = GraftSqlCatalog.commentsFor(spark).toSeq
      // non-relational namespaces (clusters, databases, roles…) have no
      // pg_class oid — pg_description never lists them; sources/sinks ARE
      // catalog relations and keep their rows
      .filter { case (k, _) => meta.get(k).forall(_._1.forall(dk =>
        dk == "source" || dk == "sink")) }
      .map { case ((n, col), txt) =>
        Row(userOid(n), 1259, col.getOrElse(0), txt)
      }
    spark.createDataFrame(new java.util.ArrayList[Row](
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), descSchema)
  }

  private val mzCommentsSchema = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("object_type", StringType, nullable = false),
    StructField("object_sub_id", IntegerType, nullable = true),
    StructField("comment", StringType, nullable = false)))

  /** mz_internal.mz_comments (reference `src/catalog/src/builtin.rs`
    * MZ_COMMENTS): (id, object_type, object_sub_id, comment). */
  def mzComments(spark: SparkSession, sltIndexes: Seq[(String, String)],
      sltMvs: Set[String], rels: Seq[(String, String, StructType)],
      ids: Map[String, String]): DataFrame = {
    val mvs = GraftSqlCatalog.forSession(spark).viewNames.map(_.toLowerCase).toSet ++ sltMvs
    val kinds = rels.map { case (n, k, _) =>
      n.toLowerCase -> (
        if (mvs.contains(n.toLowerCase)) "materialized-view"
        else k match {
          case "r" => "table"; case "v" => "view"; case _ => "index" })
    }.toMap ++ sltIndexes.map(_._1 -> "index") ++
      // registered sources (webhook/load-generator relations) report
      // 'source' — their backing temp view must not read as 'view'
      GraftSqlCatalog.sourcesFor(spark).keys.map(_.toLowerCase -> "source")
    val meta = GraftSqlCatalog.commentMetaFor(spark)
    val rows = GraftSqlCatalog.commentsFor(spark).toSeq
      .sortBy { case (k, _) => meta.get(k).map(_._2).getOrElse(0) }
      .map { case ((n, col), txt) =>
        val kind = meta.get((n, col)).flatMap(_._1)
          .getOrElse(kinds.getOrElse(n, "type"))
        Row(ids.getOrElse(n, "u0"), kind, col.orNull, txt)
      }
    spark.createDataFrame(new java.util.ArrayList[Row](
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), mzCommentsSchema)
  }

  /** Names a query must mention for registration to trigger. */
  val relationNames: Seq[String] = Seq(
    "pg_type", "pg_class", "pg_attribute", "pg_namespace", "pg_index",
    "pg_indexes",
    "mz_tables", "mz_views", "mz_objects", "mz_indexes",
    "mz_columns", "mz_schemas",
    "pg_description", "mz_comments",
    "information_schema_tables", "information_schema_columns")

  private val Ref = ("(?i)\\b(" + relationNames.mkString("|") + ")\\b").r

  def referenced(sql: String): Boolean =
    Ref.findFirstIn(sql).isDefined ||
      // raw corpus text qualifies with a dot (information_schema.tables);
      // the shim rewrites it to the underscore temp-view name before exec
      sql.toLowerCase.contains("information_schema.")

  /** (Re)build the introspection temp views. Cheap (driver metadata only);
    * call before executing a query that [[referenced]] them. The catalog
    * views must not appear in their own pg_class listing recursively — they
    * are dropped first, then listed tables are snapshotted, then views are
    * re-created from the snapshot. */
  def register(spark: SparkSession, custom: Seq[CustomTypeRow],
      sltIndexes: Seq[(String, String)] = Nil,
      sltMvs: Set[String] = Set.empty): Unit = {
    relationNames.foreach(spark.catalog.dropTempView)
    // ONE catalog snapshot + one id assignment for every relation built
    // below: re-listing mid-registration would include the just-created
    // catalog temp views in the sorted u-id numbering, giving the same
    // object divergent ids across mz_objects / mz_comments / mz_indexes.
    val rels = relations(spark)
    val ids = userIdsOf(rels)
    val cls = pgClass(spark, sltIndexes, rels)
    val attr = pgAttribute(spark, rels)
    val tabs = mzObjects(spark, Some("table"), rels, ids)
    val views = mzObjects(spark, Some("view"), rels, ids)
    // builtin census rows join the user rows in mz_objects/mz_columns/
    // mz_comments, as in the reference's ambient catalog
    val objs = mzObjects(spark, None, rels, ids)
      .union(MzCensusViews.builtinObjects(spark))
    val comments = mzComments(spark, sltIndexes, sltMvs, rels, ids)
      .union(MzCensusViews.builtinComments(spark))
    val idxs = mzIndexes(spark, sltIndexes, ids)
    pgType(spark, custom).createOrReplaceTempView("pg_type")
    cls.createOrReplaceTempView("pg_class")
    attr.createOrReplaceTempView("pg_attribute")
    pgNamespace(spark).createOrReplaceTempView("pg_namespace")
    pgIndex(spark, sltIndexes).createOrReplaceTempView("pg_index")
    pgIndexes(spark, sltIndexes).createOrReplaceTempView("pg_indexes")
    pgDescription(spark).createOrReplaceTempView("pg_description")
    comments.createOrReplaceTempView("mz_comments")
    tabs.createOrReplaceTempView("mz_tables")
    views.createOrReplaceTempView("mz_views")
    objs.createOrReplaceTempView("mz_objects")
    idxs.createOrReplaceTempView("mz_indexes")
    MzCensusViews.mzColumns(spark, rels, ids)
      .createOrReplaceTempView("mz_columns")
    MzCensusViews.mzSchemas(spark).createOrReplaceTempView("mz_schemas")
    InformationSchema.tables(spark, rels, sltMvs)
      .createOrReplaceTempView("information_schema_tables")
    InformationSchema.columns(spark, rels)
      .createOrReplaceTempView("information_schema_columns")
  }
}
