package graft.sources

import java.util
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.SparkContext
import org.apache.spark.util.SerializableConfiguration

import graft.io.Npy

/** DataSource V2 reader for per-block `.npy` directories (the layout
  * [[graft.io.BlockIO.exportNpy]] writes: `block_<bx>_<by>_<bz>.npy`
  * files + `_grid_meta.json`): `spark.read.format("npy-blocks")
  * .load(dir)` yields rows `(bx,by,bz, nx,ny,nz, c, data:array<float>)`.
  *
  * This is the engine's "custom source" exhibit (SURVEY.md §2b
  * scans/sources), built the way a Spark-native source should be:
  *
  *   - **File-level partition pruning**: each file IS one block index,
  *     declared in its name — predicates on bx/by/bz are accepted via
  *     `SupportsPushDownFilters` and evaluated against the parsed names
  *     at planning time, so `WHERE bx = 3` opens only that plane's
  *     files. The pushed filters are exact (whole-file granularity), so
  *     Spark re-applies nothing. At 100 TB of blocks on object storage,
  *     this is the difference between listing-and-skipping and
  *     reading-everything; it is the same mechanism as hive partition
  *     pruning, with the block index as the partition key.
  *   - **Column pruning that skips IO**: via
  *     `SupportsPushDownRequiredColumns`. A projection of only the
  *     index columns never opens the files at all (the name carries
  *     them); `nx/ny/nz/c` without `data` parses the ~128-byte npy
  *     header only. NpySourceSpec pins both with a decode counter.
  *   - **Spark-sized scan partitions**: the pruned files, in block-index
  *     order, are packed into contiguous block ranges by the rule Spark's
  *     file sources use (`spark.sql.files.maxPartitionBytes`,
  *     `openCostInBytes`, `minPartitionNum`): 27 tiles of 4 MB make 4
  *     tasks of 7/7/7/6 files at a parallelism of 4, not 27 tasks whose
  *     fixed cost outweighs their work. A task reads its files one at a
  *     time, each decoded only when a non-index column is asked for.
  */
class NpyDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "npy-blocks"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    NpyDataSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = Option(properties.get("path")).getOrElse(
      sys.error("npy-blocks requires .load(<directory>)"))
    NpyBlockTable(path)
  }
}

object NpyDataSource {
  val schema: StructType = StructType(Seq(
    StructField("bx", IntegerType, nullable = false),
    StructField("by", IntegerType, nullable = false),
    StructField("bz", IntegerType, nullable = false),
    StructField("nx", IntegerType, nullable = false),
    StructField("ny", IntegerType, nullable = false),
    StructField("nz", IntegerType, nullable = false),
    StructField("c", IntegerType, nullable = false),
    StructField("data", ArrayType(FloatType, containsNull = false), nullable = false)))

  private val indexCols = Set("bx", "by", "bz")

  /** test hook: payload decodes actually performed (same-JVM local mode) */
  private[graft] val decodes = new AtomicLong(0)

  /** the on-disk naming contract lives in [[graft.io.BlockIO]] — one
    * definition shared with the export/import paths so they can't drift
    */
  private[sources] def parseIndex(name: String): Option[(Int, Int, Int)] =
    graft.io.BlockIO.parseBlockFileName(name)

  /** evaluate a pushed filter against a block index; filters that get
    * here reference only bx/by/bz (vetted in pushFilters)
    */
  private[sources] def eval(f: Filter, bi: (Int, Int, Int)): Boolean = {
    // compare as Long: an out-of-Int-range literal (LessThan(bx, 5e9))
    // must evaluate truthfully, not prune every file
    def v(attr: String): Long = attr match {
      case "bx" => bi._1.toLong
      case "by" => bi._2.toLong
      case "bz" => bi._3.toLong
      case other => sys.error(s"unexpected attr $other in pushed filter")
    }
    def asLong(x: Any): Long = x match {
      case i: Int => i.toLong
      case l: Long => l
      case s: Short => s.toLong
      case b: Byte => b.toLong
      case other => sys.error(s"unexpected literal $other in pushed filter")
    }
    f match {
      case EqualTo(a, x) => v(a) == asLong(x)
      case In(a, xs) => xs.exists(asLong(_) == v(a))
      case GreaterThan(a, x) => v(a) > asLong(x)
      case GreaterThanOrEqual(a, x) => v(a) >= asLong(x)
      case LessThan(a, x) => v(a) < asLong(x)
      case LessThanOrEqual(a, x) => v(a) <= asLong(x)
      case And(l, r) => eval(l, bi) && eval(r, bi)
      case Or(l, r) => eval(l, bi) || eval(r, bi)
      case Not(c) => !eval(c, bi)
      case _ => sys.error(s"unexpected pushed filter $f")
    }
  }

  /** a filter is fully evaluable at file granularity iff every attribute
    * it references is a block-index column and every node is a shape we
    * evaluate (literals must be integral)
    */
  private[sources] def supported(f: Filter): Boolean = {
    def intLit(x: Any): Boolean = x match {
      case _: Int | _: Long | _: Short | _: Byte => true
      case _ => false
    }
    f match {
      case EqualTo(a, x) => indexCols(a) && intLit(x)
      case In(a, xs) => indexCols(a) && xs.nonEmpty && xs.forall(intLit)
      case GreaterThan(a, x) => indexCols(a) && intLit(x)
      case GreaterThanOrEqual(a, x) => indexCols(a) && intLit(x)
      case LessThan(a, x) => indexCols(a) && intLit(x)
      case LessThanOrEqual(a, x) => indexCols(a) && intLit(x)
      case And(l, r) => supported(l) && supported(r)
      case Or(l, r) => supported(l) && supported(r)
      case Not(c) => supported(c)
      case _ => false
    }
  }
}

case class NpyBlockTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"npy-blocks `$path`"
  override def schema(): StructType = NpyDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new NpyScanBuilder(path)
}

class NpyScanBuilder(path: String) extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  private var required: StructType = NpyDataSource.schema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, rest) = filters.partition(NpyDataSource.supported)
    pushed = ok
    rest // unsupported conjuncts stay with Spark
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = NpyScan(path, required, pushed)
}

/** One block file of a scan: its path, length and block index. */
case class NpyBlockFile(file: String, length: Long, bx: Int, by: Int, bz: Int)

/** The files one task reads: a contiguous range of the block order. */
case class NpyFilePartition(files: Array[NpyBlockFile]) extends InputPartition

case class NpyScan(path: String, required: StructType, pushed: Array[Filter])
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  // rows only: planning need not build the reader factory (and broadcast
  // the Hadoop conf) just to ask each partition whether it reads columnar
  override def columnarSupportMode(): Scan.ColumnarSupportMode = Scan.ColumnarSupportMode.UNSUPPORTED
  override def description(): String =
    s"npy-blocks $path, pushed=[${pushed.mkString(", ")}], read=${required.fieldNames.mkString(",")}"

  override def planInputPartitions(): Array[InputPartition] = {
    val p = new Path(path)
    val conf = SparkContext.getOrCreate().hadoopConfiguration
    val fs = p.getFileSystem(conf)
    val files = fs.listStatus(p).iterator
      .filter(_.isFile)
      .flatMap { st =>
        NpyDataSource.parseIndex(st.getPath.getName)
          .map { case (bx, by, bz) => NpyBlockFile(st.getPath.toString, st.getLen, bx, by, bz) }
      }
      .filter(f => pushed.forall(NpyDataSource.eval(_, (f.bx, f.by, f.bz))))
      .toArray
      .sortBy(f => (f.bx, f.by, f.bz))
    NpyScan.pack(files, SparkSession.active).map(NpyFilePartition(_): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // ship the driver's Hadoop conf once per scan so scheme credentials
    // and settings apply on executors, as Spark's file sources do
    val sc = SparkContext.getOrCreate()
    NpyReaderFactory(required, sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration)))
  }
}

object NpyScan {
  /** Spark's file-source packing (`FilePartition.getFilePartitions`),
    * order kept: a file joins the current partition unless that would
    * take it past the split size; each file costs its length plus
    * `openCostInBytes`. The split size is Spark's own
    * (`FilePartition.maxSplitBytes`): the total cost over
    * `minPartitionNum` (default parallelism), at least one open cost, at
    * most `maxPartitionBytes`.
    */
  private[graft] def pack(files: Array[NpyBlockFile],
      spark: SparkSession): Array[Array[NpyBlockFile]] = {
    val openCost = SQLConf.get.filesOpenCostInBytes
    val split = FilePartition.maxSplitBytes(spark, files.map(_.length + openCost).sum)
    val parts = ArrayBuffer.empty[Array[NpyBlockFile]]
    val current = ArrayBuffer.empty[NpyBlockFile]
    var size = 0L
    files.foreach { f =>
      if (current.nonEmpty && size + f.length > split) {
        parts += current.toArray; current.clear(); size = 0L
      }
      current += f
      size += f.length + openCost
    }
    if (current.nonEmpty) parts += current.toArray
    parts.toArray
  }
}

case class NpyReaderFactory(required: StructType,
    conf: Broadcast[SerializableConfiguration]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val files = partition.asInstanceOf[NpyFilePartition].files
    new PartitionReader[InternalRow] {
      private var i = -1
      private var decoded: (Array[Int], Array[Float]) = null

      // decode lazily and at the cheapest sufficient level: index-only
      // projections never open the file; shape-only projections could
      // read just the npy header, but the payload decode is one pass
      // over bytes already fetched, so we decode once when any non-index
      // column is required
      private def decode(): (Array[Int], Array[Float]) = {
        if (decoded == null) {
          NpyDataSource.decodes.incrementAndGet()
          val f = files(i)
          val p = new Path(f.file)
          val in = p.getFileSystem(conf.value.value).open(p)
          val bytes = new Array[Byte](Math.toIntExact(f.length))
          try in.readFully(bytes)
          finally in.close()
          decoded = Npy.fromBytes(bytes)
        }
        decoded
      }

      override def next(): Boolean = {
        i += 1
        decoded = null
        i < files.length
      }

      override def get(): InternalRow = {
        val f = files(i)
        val vals = required.fields.map { col =>
          col.name match {
            case "bx" => f.bx
            case "by" => f.by
            case "bz" => f.bz
            case "nx" => decode()._1(0)
            case "ny" => decode()._1(1)
            case "nz" => decode()._1(2)
            case "c" => if (decode()._1.length == 4) decode()._1(3) else 1
            case "data" => UnsafeArrayData.fromPrimitiveArray(decode()._2)
            case other => sys.error(s"unknown column $other")
          }
        }
        new GenericInternalRow(vals.asInstanceOf[Array[Any]])
      }

      override def close(): Unit = ()
    }
  }
}
