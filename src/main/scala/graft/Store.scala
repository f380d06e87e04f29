package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DataType, StructType}

import scala.jdk.CollectionConverters._

/** The one save/load path of every path-based stored artifact (the
  * dedup, ANN, retrieval, entity, sketch, multimodal, text and
  * classifier indexes and models). An artifact is one directory:
  *
  *  - `<relation>/` — one parquet table per named relation, written in
  *    the layout the caller gave it (range partitioning, sort order);
  *  - `manifest.json` — a small driver-written JSON document: the
  *    artifact's `kind`, its `scheme` (the version of the derivation its
  *    rows came from), its scalar `params`, and each relation's schema.
  *
  * [[save]] deletes the manifest FIRST and publishes the new one LAST
  * (temp file + rename), so a save that dies partway leaves a directory
  * [[load]] refuses — never a torn artifact that loads. [[load]] reads
  * the manifest on the driver and hands each schema to the parquet
  * reader, so opening an artifact runs no Spark job. A directory without
  * a manifest (an unfinished save, or the older `meta/` table layout),
  * a manifest of another kind, or a foreign scheme is refused, naming
  * the path.
  */
private[graft] object Store {
  val Manifest = "manifest.json"

  private val mapper = new ObjectMapper()

  /** A loaded artifact: the manifest's scalar params and one lazy
    * DataFrame per stored relation. */
  final class Loaded private[Store] (manifest: Path, params: JsonNode,
                                     relations: Map[String, DataFrame]) {
    def apply(relation: String): DataFrame = relations.getOrElse(relation,
      throw new IllegalArgumentException(
        s"$manifest lists no relation '$relation' — rebuild the artifact"))
    private def param(key: String): JsonNode = {
      val v = params.get(key)
      require(v != null,
        s"$manifest has no parameter '$key' — rebuild the artifact")
      v
    }
    def int(key: String): Int = param(key).asInt()
    def long(key: String): Long = param(key).asLong()
    def double(key: String): Double = param(key).asDouble()
    def string(key: String): String = param(key).asText()
  }

  /** Store `relations` under `path` as one artifact. Each relation is
    * written as given to `path/<name>`; `params` are scalars (Int, Long,
    * Double, String). Refused before anything is deleted when a relation
    * reads from `path` (a save over the artifact it was loaded from would
    * delete its own input mid-write). */
  def save(path: String, kind: String, scheme: Int,
           params: Seq[(String, Any)],
           relations: (String, DataFrame)*): Unit = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(
      relations.head._2.sparkSession.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(dir).toString
    for ((name, df) <- relations; clash <- inputsUnder(df, root).headOption)
      throw new IllegalArgumentException(
        s"cannot save $kind to $path: its relation '$name' reads $clash, " +
          "which the save would overwrite — save to a new path instead")
    val manifest = new Path(dir, Manifest)
    fs.delete(manifest, false)
    val doc = mapper.createObjectNode().put("kind", kind).put("scheme", scheme)
    val ps = doc.putObject("params")
    params.foreach {
      case (k, v: Int) => ps.put(k, v)
      case (k, v: Long) => ps.put(k, v)
      case (k, v: Double) => ps.put(k, v)
      case (k, v: String) => ps.put(k, v)
      case (k, v) => throw new IllegalArgumentException(
        s"$kind.save: parameter '$k' = $v is not an Int, Long, Double or String")
    }
    val rs = doc.putObject("relations")
    for ((name, df) <- relations) {
      df.write.mode("overwrite").parquet(new Path(dir, name).toString)
      rs.set[JsonNode](name, mapper.readTree(df.schema.json))
    }
    val tmp = new Path(dir, s"_$Manifest.tmp")
    val out = fs.create(tmp, true)
    try out.write(mapper.writeValueAsBytes(doc)) finally out.close()
    require(fs.rename(tmp, manifest), s"$kind.save: could not publish $manifest")
  }

  /** Open the artifact stored under `path`; runs no Spark job. */
  def load(spark: SparkSession, path: String, kind: String,
           scheme: Int): Loaded = {
    val manifest = new Path(path, Manifest)
    val fs = manifest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(manifest),
      s"no $kind at $path: $manifest is missing — the save did not " +
        "finish, or the directory predates the manifest layout (a meta/ " +
        "table); rebuild it")
    val in = fs.open(manifest)
    val doc = try mapper.readTree(in.readAllBytes()) finally in.close()
    val found = doc.path("kind").asText()
    require(found == kind, s"$manifest describes a '$found', not a $kind")
    requireScheme(s"stored $kind at $path", doc.path("scheme").asInt(), scheme)
    val relations = doc.path("relations").properties().asScala.map { e =>
      val schema = DataType.fromJson(e.getValue.toString).asInstanceOf[StructType]
      e.getKey -> spark.read.schema(schema).parquet(new Path(path, e.getKey).toString)
    }.toMap
    new Loaded(manifest, doc.path("params"), relations)
  }

  /** The scheme gate of every stored artifact: `what` was written under
    * scheme `found`; this build reads only `want`. */
  def requireScheme(what: String, found: Int, want: Int): Unit =
    require(found == want,
      s"$what uses scheme $found but this build produces scheme $want — " +
        "rebuild it (a scheme versions the tokenizer scheme, hashing or " +
        "fit arithmetic its rows were derived with; a cross-scheme probe " +
        "would silently mis-match)")

  /** The input paths of `df`'s file relations (their qualified root
    * paths) that are `root` or lie under it, read off the analyzed plan,
    * so this starts no job. */
  private def inputsUnder(df: DataFrame, root: String): Seq[String] =
    df.queryExecution.analyzed.collectWithSubqueries {
      case r: LogicalRelation => r.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten.filter(p => p == root || p.startsWith(root + "/"))
}
