package org.apache.spark.sql.catalyst.json

import scala.collection.mutable

import com.fasterxml.jackson.core.JsonToken.{END_OBJECT, START_OBJECT, VALUE_NULL}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.util.Utils

/** The statistics of a batch of extracted JSON records, in ONE Spark job:
  * the count per record kind, the per-key `present_in` and non-null counts
  * over the records' top-level keys, and the schema `spark.read.json`
  * infers from the payloads.
  *
  * The inference is Spark's own, run the way `JsonInferSchema.infer` runs
  * it: each record typed as `inferField` types it, merged with
  * `compatibleRootType` within a partition and again on the driver over one
  * partial per partition, then one `canonicalizeType`. That last step is
  * package-private, hence this package (the bridge pattern of
  * `org.apache.spark.sql.GraftColumnBridge`). A partial holds one entry per
  * distinct kind and key, never one per record, so the driver's share stays
  * as small as Spark's own inference.
  */
object GraftJsonStats {

  final case class Stats(
      itemsByKind: Map[String, Long],
      presentIn: Map[String, Long],
      nonNull: Map[String, Long],
      schema: StructType)

  /** `records` has two string columns, the record's kind and its payload.
    * Payloads are JSON objects (the pipeline writes them with Jackson), so
    * a malformed one fails the job rather than adding Spark's corrupt-record
    * column. A key counts as non-null unless its value is JSON `null`: every
    * other value parses to non-null under the merged schema, whose
    * conflicting types widen to one that reads them, so the count equals
    * `count(col)` after `from_json`. */
  def compute(records: DataFrame): Stats = {
    val spark = castToImpl(records.sparkSession)
    val conf = spark.sessionState.conf
    // the options DataFrameReader.json builds from a bare reader
    val options = new JSONOptions(
      Map.empty[String, String], conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
    val inference = new JsonInferSchema(options)
    val merge = JsonInferSchema.compatibleRootType(
      options.columnNameOfCorruptRecord, options.parseMode)
    val rows = castToImpl(records).queryExecution.toRdd

    val partials = SQLExecution.withSQLConfPropagated(spark) {
      rows.mapPartitions { it =>
        val factory = options.buildJsonFactory()
        val kinds, present, nonNull = mutable.HashMap.empty[String, Long]
        def bump(m: mutable.HashMap[String, Long], k: String): Unit =
          m.update(k, m.getOrElse(k, 0L) + 1L)
        var root = Option.empty[DataType]
        it.foreach { row =>
          bump(kinds, row.getUTF8String(0).toString)
          val t = Utils.tryWithResource(
              CreateJacksonParser.utf8String(factory, row.getUTF8String(1))) { parser =>
            if (parser.nextToken() != START_OBJECT) inference.inferField(parser)
            else {
              // inferField's START_OBJECT branch, with the keys counted on
              // the way: the value's own token tells JSON null from "",
              // which inferField types NullType alike
              val fields = Array.newBuilder[StructField]
              while (JacksonUtils.nextUntil(parser, END_OBJECT)) {
                val name = parser.currentName
                bump(present, name)
                if (parser.nextToken() != VALUE_NULL) bump(nonNull, name)
                fields += StructField(name, inference.inferField(parser), nullable = true)
              }
              val sorted = fields.result()
              java.util.Arrays.sort(sorted, JsonInferSchema.structFieldComparator)
              StructType(sorted)
            }
          }
          root = Some(root.fold(t)(merge(_, t)))
        }
        Iterator.single((kinds.toMap, present.toMap, nonNull.toMap, root))
      }.collect()
    }

    def sum(ms: Array[Map[String, Long]]): Map[String, Long] =
      ms.flatten.groupMapReduce(_._1)(_._2)(_ + _)
    val root = partials.flatMap(_._4).foldLeft(StructType(Nil): DataType)(merge)
    val schema = inference.canonicalizeType(root, options)
      .collectFirst { case s: StructType => s }
      .getOrElse(StructType(Nil)) // canonicalizeType drops an empty root struct
    Stats(sum(partials.map(_._1)), sum(partials.map(_._2)), sum(partials.map(_._3)), schema)
  }
}
