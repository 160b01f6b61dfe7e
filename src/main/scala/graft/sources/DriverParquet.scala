package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterPredicate
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter, RecordMaterializer}
import org.apache.parquet.schema.{LogicalTypeAnnotation, Type}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/**
 * Driver-side reads of a directory of parquet files, through parquet-mr
 * itself: no Spark job, task or scheduler round trip. For reads whose
 * answer is a handful of rows (a point lookup under a pushed predicate,
 * a driver-sized metadata file), where a job's fixed cost would be the
 * whole cost.
 *
 * [[DriverParquet.open]] lists the data files and reads each footer once;
 * the state it keeps is O(row groups). The footers answer row counts and
 * column maxima without reading data, and every
 * [[DriverParquet.Files.select]] reuses them: its predicate prunes row
 * groups by the footers' min/max statistics, dictionaries and Bloom
 * filters, pages by the column index, and the remaining records one by
 * one.
 *
 * Rows decode by column position, so `open` checks every file's schema
 * against the caller's flat `StructType` (names, types and order; string
 * and long columns) and fails naming the file that differs.
 */
object DriverParquet {

  /** The data files of one directory with their footers. */
  final class Files private[DriverParquet] (
      conf: Configuration, width: Int,
      files: IndexedSeq[(HadoopInputFile, ParquetMetadata)]) {

    /** Exact row count: the sum of the row groups' counts. */
    def rowCount: Long =
      files.iterator.flatMap(_._2.getBlocks.asScala).map(_.getRowCount).sum

    /** Largest value of long column `name` by its row-group statistics, or
      * None when it holds no non-null value. A row group whose statistics
      * do not settle its maximum fails rather than guess. */
    def maxLong(name: String): Option[Long] = {
      val maxima = for {
        (file, footer) <- files
        block <- footer.getBlocks.asScala
      } yield {
        val stats = block.getColumns.asScala
          .find(_.getPath.toDotString == name).map(_.getStatistics).orNull
        if (stats != null && stats.hasNonNullValue)
          Some(stats.genericGetMax.asInstanceOf[java.lang.Long].longValue)
        else if (block.getRowCount == 0 || (stats != null && stats.isNumNullsSet &&
                   stats.getNumNulls == block.getRowCount)) None
        else throw new IllegalStateException(
          s"${file.getPath}: a row group has no statistics for column $name")
      }
      maxima.flatten.maxOption
    }

    /** Every row that satisfies `filter`, read on the driver. */
    def select(filter: FilterPredicate): Vector[Row] = {
      val records = FilterCompat.get(filter)
      val options = HadoopReadOptions.builder(conf).withRecordFilter(records).build()
      val out = Vector.newBuilder[Row]
      files.foreach { case (file, footer) =>
        // row groups are pruned here, against the cached footer
        val reader = new ParquetFileReader(file, footer, options, file.newStream())
        try {
          val fileSchema = footer.getFileMetaData.getSchema
          val io = new ColumnIOFactory(footer.getFileMetaData.getCreatedBy)
            .getColumnIO(fileSchema)
          var pages = reader.readNextFilteredRowGroup()
          while (pages != null) {
            val rows = io.getRecordReader(pages, new RowMaterializer(width), records)
            var i = 0L
            while (i < pages.getRowCount) {
              val r = rows.read()
              if (r != null && !rows.shouldSkipCurrentRecord) out += r
              i += 1
            }
            pages = reader.readNextFilteredRowGroup()
          }
        } finally reader.close()
      }
      out.result()
    }
  }

  /** List `dir`'s data files (names not starting with `_` or `.`, as
    * Spark lists them) and read their footers. */
  def open(conf: Configuration, dir: String, schema: StructType): Files = {
    val p = new Path(dir)
    val files = p.getFileSystem(conf).listStatus(p).toIndexedSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
      .map { status =>
        val file = HadoopInputFile.fromStatus(status, conf)
        val reader = ParquetFileReader.open(file)
        val footer = try reader.getFooter finally reader.close()
        checkSchema(file, footer, schema)
        file -> footer
      }
    new Files(conf, schema.size, files)
  }

  private def checkSchema(file: HadoopInputFile, footer: ParquetMetadata,
                          schema: StructType): Unit = {
    val found = footer.getFileMetaData.getSchema
    def same(t: Type, f: StructField): Boolean =
      t.getName == f.name && t.isPrimitive &&
        !t.isRepetition(Type.Repetition.REPEATED) && {
          val p = t.asPrimitiveType
          val ann = p.getLogicalTypeAnnotation
          f.dataType match {
            case StringType => p.getPrimitiveTypeName == PrimitiveTypeName.BINARY &&
              ann == LogicalTypeAnnotation.stringType()
            case LongType => p.getPrimitiveTypeName == PrimitiveTypeName.INT64 && ann == null
            case other => throw new IllegalArgumentException(
              s"column ${f.name}: driver-side reads decode string and long columns, not $other")
          }
        }
    val fields = found.getFields.asScala
    if (fields.size != schema.size || !fields.zip(schema.fields).forall { case (t, f) => same(t, f) })
      throw new IllegalStateException(
        s"${file.getPath}: parquet schema ${found.toString.replaceAll("\\s+", " ")} " +
          s"does not match ${schema.simpleString}")
  }

  /** Materializes one flat record as a [[Row]]. Strings are decoded only
    * for the records the filter keeps; holding the `Binary` until then is
    * safe, since each column delivers one value per record. */
  private final class RowMaterializer(width: Int) extends RecordMaterializer[Row] {
    private val values = new Array[Any](width)
    private val root = new GroupConverter {
      private val columns = Array.tabulate[Converter](width) { i =>
        new PrimitiveConverter {
          override def addBinary(v: Binary): Unit = values(i) = v
          override def addLong(v: Long): Unit = values(i) = v
        }
      }
      def getConverter(i: Int): Converter = columns(i)
      def start(): Unit = java.util.Arrays.fill(values.asInstanceOf[Array[AnyRef]], null)
      def end(): Unit = ()
    }
    def getRootConverter: GroupConverter = root
    def getCurrentRecord: Row = Row.fromSeq(values.toSeq.map {
      case b: Binary => b.toStringUsingUTF8
      case v => v
    })
  }
}
