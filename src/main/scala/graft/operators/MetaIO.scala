package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}

/** Driver-side parquet I/O for the SMALL metadata sidecars (file
  * manifest, snapshot log versions, delta registry, model/radii
  * sidecars): a `spark.read.parquet(...).collect()` of a kilobyte
  * sidecar costs a whole Spark job — scheduler round-trip, task
  * launch, result fetch — and the serving lifecycle paths issue many
  * per call (the round-17 event-log profile measured 431
  * broadcast-exchange jobs across 18 invocations of 6 lifecycle
  * gates, none doing > 1.2 s of work: the gates are action-count
  * bound, not data bound). Reading the same bytes with the parquet
  * library on the driver is a few file opens — the Delta/Iceberg
  * architecture, where the transaction log is driver-side metadata,
  * not a distributed dataset.
  *
  * Scope guard: ONLY for driver-sized metadata (the manifest is
  * driver-materialized by every consumer anyway — tens of MB at
  * 100 TB). Data-scale frames (postings, corpus logs, layouts) keep
  * going through Spark.
  *
  * Files written here are plain parquet (optional primitive fields,
  * UTF8-annotated binaries) and read back by Spark with the same
  * schema modulo nullability; files read here may come from Spark
  * writers — absent columns surface as null so mixed-schema sidecars
  * (e.g. a pre-tombstone delta registry) keep working.
  */
private[graft] object MetaIO {

  /** Non-hidden data files of a metadata directory, name-sorted for a
    * deterministic row order (Spark's listing order is name-sorted
    * too). Empty when the directory does not exist.
    */
  def dataFiles(fs: FileSystem, dir: Path): Seq[Path] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter(s => s.isFile && {
        val n = s.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      })
      .sortBy(_.getPath.getName)
      .map(_.getPath)

  /** Column names of the directory's first data file (footer only);
    * empty when the dir holds no data file.
    */
  def columnsOf(conf: Configuration, fs: FileSystem, dir: Path): Seq[String] = {
    val files = dataFiles(fs, dir)
    if (files.isEmpty) Seq.empty
    else {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(files.head, conf))
      try r.getFooter.getFileMetaData.getSchema.getFields
        .toArray.map(_.asInstanceOf[org.apache.parquet.schema.Type].getName)
        .toSeq
      finally r.close()
    }
  }

  /** Spark type of column `name` across the dir's data files, from
    * their FOOTERS (no data pages read, so files holding no rows type
    * alike): INT32 → int, INT64 → long, BINARY → string, and a column
    * that is INT32 in some files and INT64 in others (widened mid-
    * stream) → long. None when no data file has the column. Any other
    * physical type, or files disagreeing otherwise, fails with an
    * error naming the column, the type(s) and the dir.
    */
  def columnType(conf: Configuration, fs: FileSystem, dir: Path,
      name: String): Option[DataType] = {
    val kinds: Seq[String] = dataFiles(fs, dir).flatMap { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      val schema = try r.getFooter.getFileMetaData.getSchema
        finally r.close()
      if (!schema.containsField(name)) None
      else {
        val t = schema.getType(schema.getFieldIndex(name))
        Some(if (t.isPrimitive) t.asPrimitiveType().getPrimitiveTypeName.name
          else s"group ${t.getName}")
      }
    }
    kinds.distinct.sorted match {
      case Seq() => None
      case Seq("INT32") => Some(IntegerType)
      case Seq("INT64") | Seq("INT32", "INT64") => Some(LongType)
      case Seq("BINARY") => Some(StringType)
      case other => throw new IllegalStateException(
        s"MetaIO: column '$name' in $dir has physical type " +
          s"${other.mkString(" + ")} — supported are INT32, INT64 " +
          "and BINARY (one of them, or INT32 widened to INT64)")
    }
  }

  /** Total row count across the dir's data files, from FOOTERS only —
    * no data pages read (the `count()` of a metadata dir).
    */
  def rowCount(conf: Configuration, fs: FileSystem, dir: Path): Long =
    dataFiles(fs, dir).map(fileRowCount(conf, _)).sum

  /** One parquet file's row count, from its footer. */
  def fileRowCount(conf: Configuration, f: Path): Long = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
    try r.getRecordCount finally r.close()
  }

  /** Read every row of the directory on the driver. `cols` names the
    * wanted columns in output order; a column absent from a file (or
    * null in a row) reads as null. Values are String / Int / Long /
    * Boolean / Double / Float / Array[Double] (standard 3-level LIST
    * of doubles) by the file's own type.
    */
  def read(conf: Configuration, fs: FileSystem, dir: Path,
      cols: Seq[String]): Seq[Array[Any]] = {
    val out = Seq.newBuilder[Array[Any]]
    dataFiles(fs, dir).foreach { f =>
      readFile(conf, f, cols, Long.MaxValue, out += _)
    }
    out.result()
  }

  /** First row of the directory's first data file ([[read]] semantics,
    * stops immediately) — the cheap "one manifest row" probe.
    */
  def readHead(conf: Configuration, fs: FileSystem, dir: Path,
      cols: Seq[String]): Option[Array[Any]] = {
    val files = dataFiles(fs, dir)
    if (files.isEmpty) return None
    var got: Option[Array[Any]] = None
    readFile(conf, files.head, cols, 1L, r => got = Some(r))
    got
  }

  private def readFile(conf: Configuration, file: Path,
      cols: Seq[String], maxRows: Long, sink: Array[Any] => Unit): Unit = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val schema = reader.getFooter.getFileMetaData.getSchema
      val present = cols.map(c =>
        if (schema.containsField(c)) schema.getFieldIndex(c) else -1)
      val io = new ColumnIOFactory().getColumnIO(schema)
      var emitted = 0L
      var pages = reader.readNextRowGroup()
      while (pages != null && emitted < maxRows) {
        val rr = io.getRecordReader(pages, new GroupRecordConverter(schema))
        var i = 0L
        val n = pages.getRowCount
        while (i < n && emitted < maxRows) {
          val g = rr.read()
          val row = new Array[Any](cols.length)
          var c = 0
          while (c < cols.length) {
            row(c) = if (present(c) < 0) null
              else value(g, schema, present(c), file)
            c += 1
          }
          sink(row)
          emitted += 1
          i += 1
        }
        pages = if (emitted < maxRows) reader.readNextRowGroup() else null
      }
    } finally reader.close()
  }

  private def value(g: Group, schema: MessageType, fieldIdx: Int,
      file: Path): Any = {
    if (g.getFieldRepetitionCount(fieldIdx) == 0) return null
    val t = schema.getType(fieldIdx)
    if (t.isPrimitive)
      t.asPrimitiveType().getPrimitiveTypeName match {
        case PrimitiveTypeName.BINARY => g.getString(fieldIdx, 0)
        case PrimitiveTypeName.INT32 => g.getInteger(fieldIdx, 0)
        case PrimitiveTypeName.INT64 => g.getLong(fieldIdx, 0)
        case PrimitiveTypeName.BOOLEAN => g.getBoolean(fieldIdx, 0)
        case PrimitiveTypeName.DOUBLE => g.getDouble(fieldIdx, 0)
        case PrimitiveTypeName.FLOAT => g.getFloat(fieldIdx, 0)
        case other => throw new IllegalStateException(
          s"MetaIO: unsupported primitive $other for '${t.getName}'")
      }
    else {
      // standard 3-level LIST of doubles (Spark's array<double>):
      // optional group NAME (LIST) { repeated group list
      //   { optional double element } }
      val lg = g.getGroup(fieldIdx, 0)
      val inner = lg.getType.asGroupType()
      def fail(what: String): Nothing = throw new IllegalStateException(
        s"MetaIO: column '${t.getName}' in $file $what")
      if (inner.getFieldCount != 1) fail("is an unsupported nested type")
      val rep = inner.getType(0) // "list" (or legacy "array")
      val elemGroup = !rep.isPrimitive
      val elem = if (elemGroup && rep.asGroupType().getFieldCount == 1)
        rep.asGroupType().getType(0) else rep
      if (!elem.isPrimitive || elem.asPrimitiveType().getPrimitiveTypeName !=
          PrimitiveTypeName.DOUBLE) fail(s"is a list of $elem, not of double")
      val n = lg.getFieldRepetitionCount(0)
      val arr = new Array[Double](n)
      var i = 0
      while (i < n) {
        arr(i) =
          if (!elemGroup) lg.getDouble(0, i)
          else if (lg.getGroup(0, i).getFieldRepetitionCount(0) == 0)
            fail(s"holds a null list element at index $i")
          else lg.getGroup(0, i).getDouble(0, 0)
        i += 1
      }
      arr
    }
  }

  /** Build an all-optional flat MessageType: kinds 'S' (string), 'I'
    * (int32), 'L' (int64), 'B' (boolean), 'D' (double).
    */
  def schema(fields: Seq[(String, Char)]): MessageType = {
    val b = Types.buildMessage()
    fields.foreach { case (n, k) =>
      k match {
        case 'S' => b.addField(Types.optional(PrimitiveTypeName.BINARY)
          .as(LogicalTypeAnnotation.stringType()).named(n))
        case 'I' => b.addField(
          Types.optional(PrimitiveTypeName.INT32).named(n))
        case 'L' => b.addField(
          Types.optional(PrimitiveTypeName.INT64).named(n))
        case 'B' => b.addField(
          Types.optional(PrimitiveTypeName.BOOLEAN).named(n))
        case 'D' => b.addField(
          Types.optional(PrimitiveTypeName.DOUBLE).named(n))
        case other => throw new IllegalArgumentException(
          s"MetaIO.schema: unknown kind '$other'")
      }
    }
    b.named("spark_schema")
  }

  /** Write `rows` (values in `schema` field order, nulls skipped) as
    * ONE parquet file under `dir` — the driver-side analog of a
    * `coalesce(1)` metadata write. The caller owns the tmp-dir +
    * rename discipline; this only creates `dir/part-00000.parquet`.
    */
  def write(conf: Configuration, fs: FileSystem, dir: Path,
      schema: MessageType, rows: Iterator[Array[Any]]): Unit = {
    fs.mkdirs(dir)
    val file = new Path(dir, "part-00000-graft-meta.parquet")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(file, conf))
      .withConf(conf)
      .withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    val factory = new SimpleGroupFactory(schema)
    try rows.foreach { r =>
      val g = factory.newGroup()
      var i = 0
      while (i < r.length) {
        r(i) match {
          case null => ()
          case s: String => g.append(schema.getFieldName(i), s)
          case v: Int => g.append(schema.getFieldName(i), v)
          case v: Long => g.append(schema.getFieldName(i), v)
          case v: Boolean => g.append(schema.getFieldName(i), v)
          case v: Double => g.append(schema.getFieldName(i), v)
          case other => throw new IllegalArgumentException(
            s"MetaIO.write: unsupported value $other")
        }
        i += 1
      }
      w.write(g)
    } finally w.close()
  }
}
