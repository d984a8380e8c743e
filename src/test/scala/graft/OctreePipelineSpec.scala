package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.octree._

/** End-to-end pins for [[graft.octree.OctreePipeline]] — the
  * build_octree_from_tiff_slices capstone. The oracle rows certify
  * volume identity and the per-artifact audit; these specs pin what
  * SQL cannot see: BYTE identity of the resumed tree, the resume
  * pass's skip behavior, transform.txt round-tripping, and
  * TIFF-vs-KTX cross-format agreement.
  */
class OctreePipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"

  @transient lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = { spark.stop(); rm(new java.io.File(tmp)) }

  import org.apache.spark.sql.functions._

  private val tmp = {
    val base = new java.io.File("/dev/shm")
    val root = if (base.isDirectory && base.canWrite) "/dev/shm"
      else System.getProperty("java.io.tmpdir")
    s"$root/graft_octp_spec_${ProcessHandle.current().pid()}"
  }

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
  }

  /** relpath -> MD5 of every file under root. */
  private def hashTree(root: String): Map[String, String] = {
    def walk(f: java.io.File, rel: String): Seq[(String, String)] =
      if (f.isDirectory)
        Option(f.listFiles()).toSeq.flatten.flatMap(c =>
          walk(c, if (rel.isEmpty) c.getName else s"$rel/${c.getName}"))
      else {
        val md = java.security.MessageDigest.getInstance("MD5")
        Seq(rel -> md.digest(java.nio.file.Files.readAllBytes(f.toPath))
          .map("%02x".format(_)).mkString)
      }
    walk(new java.io.File(root), "").toMap
  }

  @transient private lazy val pyr = {
    val p = Pyramid(graft.VoxelGrid(spark, sfDir)).localCheckpoint(true)
    p.count()
    p
  }

  test("interrupted-then-resumed tree is byte-identical to a one-shot build") {
    val oneShot = s"$tmp/oneshot"
    val resumed = s"$tmp/resumed"
    OctreePipeline.writeTree(spark, pyr, oneShot).count()
    OctreePipeline.writeTransform(spark, oneShot)
    // the crash: only the leaf level lands
    OctreePipeline.writeTree(spark,
      pyr.filter(col("level") === graft.VoxelGrid.Levels), resumed).count()
    val partial = hashTree(resumed)
    assert(partial.nonEmpty && partial.size < hashTree(oneShot).size,
      "interrupted build should be a strict subset")
    // the resume: completes the remaining levels from the listing
    OctreePipeline.writeTree(spark, pyr, resumed, skipExisting = true).count()
    OctreePipeline.writeTransform(spark, resumed)
    assert(hashTree(resumed) === hashTree(oneShot))
  }

  test("resume skips complete blocks and repairs exactly what is missing") {
    val root = s"$tmp/repair"
    OctreePipeline.writeTree(spark, pyr, root).count()
    val full = hashTree(root)
    // a second resume pass over a complete tree writes NOTHING
    val rerun = OctreePipeline.writeTree(spark, pyr, root, skipExisting = true)
      .agg(sum("written")).collect()(0).getLong(0)
    assert(rerun === 0L)
    // delete one mid-tree file: the next resume writes exactly it back
    val victim = full.keys.filter(_.endsWith(".tif")).toSeq.sorted
      .apply(full.size / 3)
    assert(new java.io.File(s"$root/$victim").delete())
    val repair = OctreePipeline.writeTree(spark, pyr, root, skipExisting = true)
    val written = repair.filter(col("written") === 1L)
      .select("rel").collect().map(_.getString(0)).toSeq
    assert(written === Seq(victim))
    assert(hashTree(root) === full)
  }

  test("transform.txt round-trips the oct_transform geometry") {
    val root = s"$tmp/transform"
    OctreePipeline.writeTransform(spark, root)
    val (ox, oy, oz, sx, sy, sz, nl) = OctreePipeline.readTransform(root)
    val r = Geometry.transform(spark).collect()(0)
    assert((ox, oy, oz) === ((r.getDouble(0), r.getDouble(1), r.getDouble(2))))
    assert((sx, sy, sz) === ((r.getDouble(3), r.getDouble(4), r.getDouble(5))))
    assert(nl === r.getLong(6))
  }

  test("KTX mip-0 bytes decode to exactly the TIFF bytes' voxels at every level") {
    val root = s"$tmp/crossfmt"
    OctreePipeline.writeTree(spark, pyr, root).count()
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).sorted.toSeq
    val tif = key(OctreePipeline.parseTiffTree(spark, root))
    val ktx = key(OctreePipeline.parseKtxTree(spark, root))
    assert(tif.nonEmpty && tif === ktx)
    // and both equal the pyramid frame that wrote them
    val model = pyr.select("level", "c", "z", "y", "x", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).sorted.toSeq
    assert(tif === model)
  }

  test("tree bytes and read-back do not depend on partitioning") {
    def rowSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (0 until 6).map(r.getLong)).toSet
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val runs = try Seq(1, 4).map { n =>
      spark.conf.set("spark.sql.shuffle.partitions", n.toString)
      val root = s"$tmp/parts$n"
      // a different input partitioning, so blocks reach the serializers
      // with their voxels in a different order
      OctreePipeline.writeTree(spark, pyr.repartition(n), root).count()
      val tif = OctreePipeline.parseTiffTree(spark, root)
      val ktx = OctreePipeline.parseKtxTree(spark, root)
      (hashTree(root), rowSet(tif), rowSet(ktx),
        tif.rdd.getNumPartitions, ktx.rdd.getNumPartitions)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    val Seq(one, four) = runs
    assert(one._1.nonEmpty && one._1 === four._1)
    assert(one._2.nonEmpty && one._2 === four._2)
    assert(one._3 === four._3 && one._2 === one._3)
    val cores = spark.sparkContext.defaultParallelism
    runs.foreach { r => assert((r._4, r._5) === ((cores, cores))) }
  }

  test("KTX files carry the tree's depth and their own level") {
    import spark.implicits._
    // 32³ → four levels of 4³ leaf blocks; a sparse diagonal fill
    val vox = (for {
      z <- 0L until 32; y <- 0L until 32; x <- 0L until 32
      if (z + 2 * y + 3 * x) % 7 == 0
    } yield (z % 2, z, y, x, 1L + (z * 31 + y * 7 + x) % 1000))
      .toDF("c", "z", "y", "x", "v")
    val root = s"$tmp/depth4"
    OctreePipeline.writeTree(spark, Pyramid(vox, levels = 4), root).count()
    def kv(rel: String): Map[String, String] = KtxBinary.keyValues(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(root, rel))).toMap
    val ktx = hashTree(root).keys.filter(_.endsWith(".ktx")).toSeq.sorted
    val leaf = ktx.find(_.count(_ == '/') == 3).get
    val rootKv = kv(ktx.find(!_.contains('/')).get)
    assert(rootKv("multiscale_level_id") === "0")
    assert(rootKv("multiscale_total_levels") === "4")
    assert(kv(leaf)("multiscale_level_id") === "3")
    assert(kv(leaf)("multiscale_total_levels") === "4")
  }
}
