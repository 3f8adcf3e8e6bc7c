package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._

/** The pinned-parameter `_meta` discipline shared by every persisted
  * store family (substr d26, boilerplate c5, span store q98, quantile
  * cell store q96, heavy-hitter key store q92, SemDedup d23), factored
  * once so the contract — layout parameters are PINNED at build time
  * and every later operation must present (or read back) the same
  * values, loudly — has a single implementation instead of one
  * hand-rolled copy per family.
  *
  * Layout: `<store>_meta` is a parquet dir of one-row files. The build
  * writes the first row (mode overwrite); ingest folds APPEND one row
  * each (idempotent under the committed-staging protocol's
  * deterministic file names). Every row repeats the pinned fields —
  * so validation checks each row, catching a meta dir spliced from
  * two different layouts — and carries the fold's cursor values
  * (high-water marks maxed by readers, additive deltas summed).
  *
  * All I/O here is DRIVER-SIDE through parquet-hadoop directly — a
  * meta row is one row of scalars, and routing it through a Spark job
  * (the r13 form) taxed every fold with two fixed job latencies for
  * work that is microseconds of footer parsing. The files stay plain
  * parquet with Spark's exact type mapping (optional INT64/INT32/
  * BOOLEAN/DOUBLE/UTF8), so Spark-written rows from older stores (and
  * the folds' promote-copied staged artifacts) read back
  * identically, and anything Spark writes here stays readable —
  * StoreMetaSpec pins both directions.
  *
  * Why pinning is load-bearing (the r12 lesson, kept loud here): a
  * bucket count defines where a key LIVES, an `l`/`hashKeys` defines
  * what a key IS, a `cellBits` defines what a cell MEANS — an
  * operation run with a silently different value mis-prunes,
  * mis-joins, or mis-thresholds with NO error. Equality is therefore
  * `require`d per row with the stored and presented values named.
  */
object StoreMeta {

  def metaPath(store: String): String = s"${store}_meta"

  private def confOf(spark: SparkSession): Configuration =
    spark.sessionState.newHadoopConf()

  /** Spark's parquet type mapping for the supported scalar meta
    * fields — one place, so driver-written and Spark-written rows are
    * byte-compatible. */
  private def parquetFieldOf(name: String, v: Any): Type = v match {
    case _: Long    => Types.optional(PrimitiveTypeName.INT64).named(name)
    case _: Int     => Types.optional(PrimitiveTypeName.INT32).named(name)
    case _: Boolean => Types.optional(PrimitiveTypeName.BOOLEAN).named(name)
    case _: Double  => Types.optional(PrimitiveTypeName.DOUBLE).named(name)
    case _: String  => Types.optional(PrimitiveTypeName.BINARY)
      .as(LogicalTypeAnnotation.stringType()).named(name)
    case other => throw new IllegalArgumentException(
      s"unsupported meta field type: ${other.getClass.getName}")
  }

  /** Write ONE meta row as a single parquet file under `dir` — no
    * Spark job. Used both for live `_meta` rows ([[write]]) and for
    * the folds' STAGED meta artifacts (promote copies the
    * file into the live meta dir verbatim, so the schema is the live
    * schema by construction). */
  def writeFile(spark: SparkSession, dir: String,
                fields: Seq[(String, Any)]): Unit = {
    require(fields.nonEmpty, "meta row needs at least one field")
    val conf = confOf(spark)
    val schema = new MessageType("spark_schema",
      fields.map { case (n, v) => parquetFieldOf(n, v) }: _*)
    val dirPath = new HPath(dir)
    dirPath.getFileSystem(conf).mkdirs(dirPath)
    val file = new HPath(dirPath,
      s"part-00000-${java.util.UUID.randomUUID()}.parquet")
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(file, conf))
      .withConf(conf).withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    try {
      val g = new SimpleGroupFactory(schema).newGroup()
      fields.foreach { case (n, v) =>
        v match {
          case x: Long    => g.add(n, x)
          case x: Int     => g.add(n, x)
          case x: Boolean => g.add(n, x)
          case x: Double  => g.add(n, x)
          case x: String  => g.add(n, x)
          case _ => // unreachable: parquetFieldOf already refused it
        }
      }
      writer.write(g)
    } finally writer.close()
  }

  /** Write one meta row to the store's `_meta` dir — `overwrite` for
    * the build's first row, `append` for a fold's cursor row. */
  def write(spark: SparkSession, store: String, mode: String,
            fields: Seq[(String, Any)]): Unit = {
    val dir = metaPath(store)
    mode match {
      case "overwrite" =>
        val p = new HPath(dir)
        p.getFileSystem(confOf(spark)).delete(p, true)
      case "append" => ()
      case other => throw new IllegalArgumentException(
        s"unsupported meta write mode $other (overwrite | append)")
    }
    writeFile(spark, dir, fields)
  }

  /** All meta rows of one parquet file, as schema-carrying Rows. */
  private def readGroups(conf: Configuration, file: HPath): Seq[Row] = {
    val reader = ParquetReader
      .builder(new GroupReadSupport(), file).withConf(conf).build()
    try {
      val out = scala.collection.mutable.ArrayBuffer.empty[Row]
      var g = reader.read()
      while (g != null) {
        val mt = g.getType
        val n = mt.getFieldCount
        val fields = (0 until n).map { i =>
          val t = mt.getType(i)
          require(t.isPrimitive,
            s"meta field ${t.getName} in $file is not a scalar")
          val pt = t.asPrimitiveType()
          val present = g.getFieldRepetitionCount(i) > 0
          val (value: Any, dt: DataType) = pt.getPrimitiveTypeName match {
            case PrimitiveTypeName.INT64 =>
              ((if (present) g.getLong(i, 0) else null), LongType)
            case PrimitiveTypeName.INT32 =>
              ((if (present) g.getInteger(i, 0) else null), IntegerType)
            case PrimitiveTypeName.BOOLEAN =>
              ((if (present) g.getBoolean(i, 0) else null), BooleanType)
            case PrimitiveTypeName.DOUBLE =>
              ((if (present) g.getDouble(i, 0) else null), DoubleType)
            case PrimitiveTypeName.BINARY =>
              ((if (present) g.getString(i, 0) else null), StringType)
            case other => throw new IllegalArgumentException(
              s"unsupported meta field type $other for ${t.getName} in $file")
          }
          (StructField(t.getName, dt), value)
        }
        out += new GenericRowWithSchema(fields.map(_._2).toArray,
          StructType(fields.map(_._1)))
        g = reader.read()
      }
      out.toSeq
    } finally reader.close()
  }

  /** Field lookup with the layout-migration contract (loud, not a raw
    * field-lookup error): a row missing a field means the store was
    * built before that field existed. */
  private def fieldOf(row: Row, name: String): Any = {
    val idx =
      try row.fieldIndex(name)
      catch {
        case _: IllegalArgumentException | _: UnsupportedOperationException =>
          throw new IllegalArgumentException(
            s"meta row lacks field '$name' — the store predates this " +
              "layout field; rebuild the store to migrate")
      }
    row.get(idx)
  }

  /** Read every meta row (driver-side, no Spark job) and `require`
    * that each `pinned` field equals the presented value ON EVERY ROW
    * — loud, naming the store, the field, and both values. Returns the
    * rows for cursor extraction ([[maxLong]] / [[sumLong]] /
    * [[pinnedOf]]). */
  def readRequire(spark: SparkSession, store: String,
                  pinned: Seq[(String, Any)]): Array[Row] = {
    val conf = confOf(spark)
    val dir = new HPath(metaPath(store))
    val fs = dir.getFileSystem(conf)
    val files = StoreFiles.dataFiles(fs, dir).sortBy(_.getPath.getName)
    val rows = files.flatMap(f => readGroups(conf, f.getPath)).toArray
    require(rows.nonEmpty, s"no _meta at ${metaPath(store)}")
    rows.foreach { row =>
      pinned.foreach { case (name, expect) =>
        val got = fieldOf(row, name)
        require(got == expect,
          s"store layout mismatch at $store: built with $name=$got, " +
            s"operation called with $name=$expect — a mismatched " +
            "layout parameter mis-prunes, mis-joins, or " +
            "mis-thresholds with no error")
      }
    }
    rows
  }

  /** Ingest high-water mark: max of an append-only cursor column. */
  def maxLong(rows: Array[Row], name: String): Long =
    rows.map(fieldOf(_, name).asInstanceOf[Long]).max

  /** Additive cursor: sum of per-fold deltas. */
  def sumLong(rows: Array[Row], name: String): Long =
    rows.map(fieldOf(_, name).asInstanceOf[Long]).sum

  /** Read back a pinned field the caller does NOT pass (the
    * free-parameter-removed pattern — q96's `cell_bits`, c5's `eps`):
    * every row must agree on it. */
  def pinnedOf[T](rows: Array[Row], store: String, name: String): T = {
    val vs = rows.toSeq.map(fieldOf(_, name)).distinct
    require(vs.length == 1,
      s"store meta at $store is inconsistent: $name has values " +
        s"${vs.mkString(", ")}")
    vs.head.asInstanceOf[T]
  }

  /** Driver-side max of a BIGINT column over a FLAT parquet dir, from
    * file footer statistics alone — no Spark job; the cursor-read
    * trim for store columns whose max is a fold/refresh high-water
    * (c5's sidecar `as_of`, counts `fseq`). Returns None (caller runs
    * the agg-job fallback) when the dir is empty/missing, or when any
    * row group carries non-null values for the column WITHOUT
    * trustworthy stats — a None is never wrong, only slower. */
  def footerMaxLong(spark: SparkSession, dir: String,
                    column: String): Option[Long] = {
    val conf = confOf(spark)
    val p = new HPath(dir)
    val fs = p.getFileSystem(conf)
    val files = StoreFiles.dataFiles(fs, p)
    if (files.isEmpty) return None
    var best = Option.empty[Long]
    var trusted = true
    files.foreach { f =>
      val rd = ParquetFileReader.open(HadoopInputFile.fromPath(f.getPath, conf))
      try {
        rd.getFooter.getBlocks.forEach { b =>
          var seen = false
          b.getColumns.forEach { c =>
            if (c.getPath.toDotString == column) {
              seen = true
              val st = c.getStatistics
              if (st == null || st.isEmpty)
                trusted = false // rows present, stats absent: cannot trust
              else if (st.hasNonNullValue) {
                require(c.getPrimitiveType.getPrimitiveTypeName ==
                  PrimitiveTypeName.INT64,
                  s"footerMaxLong($column) on non-BIGINT column in $dir")
                val m = st.genericGetMax.asInstanceOf[java.lang.Long].longValue()
                best = Some(best.fold(m)(math.max(_, m)))
              } // else: this block holds only nulls for the column
            }
          }
          if (!seen && b.getRowCount > 0)
            throw new IllegalArgumentException(
              s"column $column absent from a row group of $dir — the " +
                "store predates this layout field; rebuild the store")
        }
      } finally rd.close()
    }
    if (trusted) best else None
  }
}
