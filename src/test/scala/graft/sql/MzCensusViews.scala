package graft.sql

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.sql.MzCatalogCensus.{columns, objectOids}
import graft.sql.PgCatalogRelations.{oidOfTypname, userOid}

/** The builtin catalog census ([[MzCatalogCensus]]) as the rows of the
  * sqllogictest harness's mz_objects / mz_columns / mz_schemas /
  * mz_comments temp views. The per-query catalog rebuild only re-wraps the
  * cached census rows in local DataFrames (driver metadata, no distributed
  * work).
  */
object MzCensusViews {

  /** mz_objects.type per builtin (table/view/materialized-view/source),
    * carried from the generator's Builtin* static kind. */
  lazy val objectKinds: Map[(String, String), String] =
    columns.map(c => (c.schema, c.obj) -> c.kind).toMap

  /** Distinct builtin objects in (schema, name) order with stable system
    * ids s1, s2, ... (the reference numbers its builtins the same way;
    * the corpus never asserts specific system id values, only that the
    * id joins consistently across mz_objects / mz_columns / mz_comments). */
  lazy val objects: Seq[(String, String)] =
    columns.map(c => (c.schema, c.obj)).distinct.sorted

  lazy val objectIds: Map[(String, String), String] =
    objects.zipWithIndex.map { case (o, i) => o -> s"s${i + 1}" }.toMap

  /** Builtin schema ids, matching the reference's ambient numbering where
    * it is visible (mz_catalog s1, pg_catalog s2); the census SLT files
    * only join on consistency, never on the literal id. */
  val schemaIds: Map[String, String] = Map(
    "mz_catalog" -> "s1", "pg_catalog" -> "s2", "mz_internal" -> "s4",
    "information_schema" -> "s5", "mz_unsafe" -> "s6",
    "mz_introspection" -> "s7")

  private val objSchema = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("oid", IntegerType, nullable = false),
    StructField("schema_id", StringType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("type", StringType, nullable = false)))

  /** Builtin rows for mz_objects (id, oid, schema_id, name, type). */
  def builtinObjects(spark: SparkSession): DataFrame = {
    val rows = objects.map { case (schema, name) =>
      val oid = objectOids.getOrElse((schema, name), 0)
      Row(objectIds((schema, name)),
        if (oid != 0) oid else userOid(name),
        schemaIds.getOrElse(schema, "s0"), name,
        objectKinds.getOrElse((schema, name), "view"))
    }
    spark.createDataFrame(new java.util.ArrayList[Row](
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), objSchema)
  }

  private val colSchema = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("position", LongType, nullable = false),
    StructField("nullable", BooleanType, nullable = false),
    StructField("type", StringType, nullable = false),
    StructField("default", StringType, nullable = true),
    StructField("type_oid", IntegerType, nullable = false),
    StructField("type_mod", IntegerType, nullable = false)))

  /** mz_catalog.mz_columns (reference MZ_COLUMNS,
    * builtin/mz_catalog.rs:572): builtin census rows + the session's user
    * relations. */
  def mzColumns(spark: SparkSession,
      rels: Seq[(String, String, StructType)],
      ids: Map[String, String]): DataFrame = {
    val builtin = columns.map { c =>
      Row(objectIds((c.schema, c.obj)), c.column, c.position.toLong,
        c.nullable, c.colType, null,
        oidOfTypname.getOrElse(c.colType, 25), -1)
    }
    val user = rels.filter(_._2 != "i").flatMap { case (name, _, schema) =>
      schema.fields.toIndexedSeq.zipWithIndex.map { case (f, idx) =>
        Row(ids.getOrElse(name, "u0"), f.name, (idx + 1).toLong, f.nullable,
          InformationSchema.pgTypeNameOf(f.dataType), null,
          oidOfTypname.getOrElse(
            InformationSchema.pgTypeNameOf(f.dataType), 25), -1)
      }
    }
    spark.createDataFrame(new java.util.ArrayList[Row](
      scala.jdk.CollectionConverters.SeqHasAsJava(builtin ++ user).asJava),
      colSchema)
  }

  private val schemaSchema = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("oid", IntegerType, nullable = false),
    StructField("database_id", StringType, nullable = true),
    StructField("name", StringType, nullable = false)))

  /** mz_catalog.mz_schemas (reference MZ_SCHEMAS,
    * builtin/mz_catalog.rs:486): the ambient schemas + the user default. */
  def mzSchemas(spark: SparkSession): DataFrame = {
    val ambient = schemaIds.toSeq.sortBy(_._2).map { case (n, id) =>
      Row(id, userOid(n), null, n)
    }
    val user = Seq(Row("u3", 2200, "u1", "public"))
    spark.createDataFrame(new java.util.ArrayList[Row](
      scala.jdk.CollectionConverters.SeqHasAsJava(ambient ++ user).asJava),
      schemaSchema)
  }

  private val commentSchema = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("object_type", StringType, nullable = false),
    StructField("object_sub_id", IntegerType, nullable = true),
    StructField("comment", StringType, nullable = false)))

  /** Builtin column-comment rows for mz_internal.mz_comments (the
    * documentation strings builtin.rs attaches per column). */
  def builtinComments(spark: SparkSession): DataFrame = {
    val rows = columns.filter(_.comment.nonEmpty).map { c =>
      Row(objectIds((c.schema, c.obj)), c.kind,
        Integer.valueOf(c.position), c.comment)
    }
    spark.createDataFrame(new java.util.ArrayList[Row](
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), commentSchema)
  }
}
