package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.RialtoWrite

/** writers.rialto directory emit, verified against an INDEPENDENT
  * in-test quadtree built exactly like RialtoCommon.cpp's Tile (root
  * split at lon<0, `<= mid` quadrant ties, ty from the north, m_skip =
  * 4^(max-level) retention, child mask SW=1/SE=2/NE=4/NW=8) — a
  * different algorithm (recursive driver tree vs the engine's
  * membership explode + shuffle) converging on the same files. */
class RialtoWriteSpec extends AnyFunSuite {
  import TestSpark._

  /** The reference Tile, re-derived recursively on the driver. */
  private class RefTile(val level: Int, val tx: Int, val ty: Int,
      west: Double, south: Double, east: Double, north: Double, maxLevel: Int) {
    val points = scala.collection.mutable.ArrayBuffer.empty[Long]
    val children = new Array[RefTile](4) // SW NW SE NE as quad index 0..3
    private val skip = math.pow(4.0, (maxLevel - level).toDouble).toLong
    def add(ord: Long, lon: Double, lat: Double): Unit = {
      if (ord % skip == 0) points += ord
      if (level == maxLevel) return
      val midx = (west + east) / 2; val midy = (south + north) / 2
      val lowX = lon <= midx; val lowY = lat <= midy
      val q = (if (lowX) (if (lowY) 0 else 1) else (if (lowY) 2 else 3))
      if (children(q) == null) children(q) = q match {
        case 0 => new RefTile(level + 1, tx * 2, ty * 2 + 1, west, south, midx, midy, maxLevel)
        case 1 => new RefTile(level + 1, tx * 2, ty * 2, west, midy, midx, north, maxLevel)
        case 2 => new RefTile(level + 1, tx * 2 + 1, ty * 2 + 1, midx, south, east, midy, maxLevel)
        case 3 => new RefTile(level + 1, tx * 2 + 1, ty * 2, midx, midy, east, north, maxLevel)
      }
      children(q).add(ord, lon, lat)
    }
    def mask: Int = (if (children(0) != null) 1 else 0) |
      (if (children(2) != null) 2 else 0) | (if (children(3) != null) 4 else 0) |
      (if (children(1) != null) 8 else 0)
    def all: Seq[RefTile] = this +: children.filter(_ != null).toSeq.flatMap(_.all)
  }

  test("tile files, retention, and child masks match the recursive reference tree") {
    val maxLevel = 3
    val n = 500
    // deterministic lon/lat spread across both hemispheres
    val pts = (0 until n).map { i =>
      (i.toLong, math.sin(i * 1.7) * 179.0, math.cos(i * 2.3) * 89.0)
    }
    val df = spark.createDataFrame(pts).toDF("span_idx", "x", "y")
      .withColumn("z", col("span_idx").cast("double"))
      .repartition(7)
    val dir = java.nio.file.Files.createTempDirectory("graftrialto").toString + "/tiles"
    val nFiles = RialtoWrite.write(dir, df, maxLevel)

    // independent tree
    val roots = Seq(
      new RefTile(0, 0, 0, -180, -90, 0, 90, maxLevel),
      new RefTile(0, 1, 0, 0, -90, 180, 90, maxLevel))
    pts.foreach { case (ord, lon, lat) =>
      (if (lon < 0) roots(0) else roots(1)).add(ord, lon, lat) }
    val want = roots.flatMap(_.all)
    assert(nFiles === want.size, "tile count mismatch")

    // record = the numeric columns minus span_idx: x,y,z doubles = 24 B
    want.foreach { t =>
      val p = java.nio.file.Paths.get(s"$dir/${t.level}/${t.tx}/${t.ty}.ria")
      assert(java.nio.file.Files.exists(p), s"missing tile ${t.level}/${t.tx}/${t.ty}")
      val bytes = java.nio.file.Files.readAllBytes(p)
      assert((bytes.length - 1) % 24 === 0)
      val got = (bytes.length - 1) / 24
      assert(got === t.points.size,
        s"tile ${t.level}/${t.tx}/${t.ty}: $got records, want ${t.points.size}")
      assert((bytes.last & 0xFF) === t.mask,
        s"tile ${t.level}/${t.tx}/${t.ty} child mask")
      // records in ordinal order: z column carries the ordinal
      val bb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val zs = (0 until got).map(i => bb.getDouble(i * 24 + 16).toLong)
      assert(zs === t.points.sorted.toSeq, s"tile ${t.level}/${t.tx}/${t.ty} order")
    }

    // header.json: version, counts, dimension stats present
    val header = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/header.json")), "US-ASCII")
    assert(header.contains("\"version\": 3"))
    assert(header.contains(s"\"numPoints\": $n"))
    assert(header.contains("\"numTilesX\": 2"))
    Seq("X", "Y", "Z").foreach(d => assert(header.contains(s""""name": "$d"""")))

    // refusal semantics without overwrite (RialtoWriter.cpp:99-105)
    val boom = intercept[IllegalArgumentException] {
      RialtoWrite.write(dir, df, maxLevel)
    }
    assert(boom.getMessage.contains("already exists"))
    // and a clean re-run with overwrite
    assert(RialtoWrite.write(dir, df, maxLevel, overwrite = true) === want.size.toLong)
  }

  test("header.json matches the reference golden (RialtoWriterTest + test/data/io/header.json)") {
    // the reference's testWriteHeaderOverwrite: faux ramp of 10 points,
    // bounds (1,2,3)-(11,12,13), max_level 0 -> byte-for-byte the
    // X/Y/Z dimension entries and every scalar of io/header.json. The
    // one unrepresentable field: OffsetTime's datatype is uint32_t in
    // the reference (Spark has no unsigned int; ours is the faux
    // reader's double ordinal) — compared on stats, not type name.
    val dir = java.nio.file.Files.createTempDirectory("rialtogold").toString + "/t"
    val df = graft.sources.Faux.ramp(spark, graft.sources.Faux.Box3(1, 2, 3, 11, 12, 13), 10)
    RialtoWrite.write(dir, df, maxLevel = 0)
    val ours = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/header.json")), "US-ASCII")
    val golden = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(ref("io/header.json"))), "US-ASCII")
    // scalars byte-identical
    for (line <- Seq("\"version\": 3",
        "\"tilebbox\": [-180.000000, -90.000000, 180.000000, 90.000000]",
        "\"numTilesX\": 2", "\"numTilesY\": 1",
        "\"databbox\": [1.000000, 2.000000, 11.000000, 12.000000]",
        "\"numPoints\": 10")) {
      assert(golden.contains(line), s"golden drifted? $line")
      assert(ours.contains(line), s"missing: $line\n$ours")
    }
    // X/Y/Z dimension blocks byte-identical to the golden's
    def dimBlock(src: String, name: String): String = {
      val at = src.indexOf(s""""name": "$name"""")
      assert(at > 0, s"$name not in header")
      src.substring(src.lastIndexOf('{', at), src.indexOf('}', at) + 1)
        .replaceAll("\\s+", " ")
    }
    for (d <- Seq("X", "Y", "Z"))
      assert(dimBlock(ours, d) === dimBlock(golden, d), s"dim $d differs")
    // OffsetTime stats match (0..9 ramp: min 0, mean 4.5, max 9)
    val ot = dimBlock(ours, "OffsetTime")
    assert(ot.contains("\"min\": 0.000000") && ot.contains("\"mean\": 4.500000") &&
      ot.contains("\"max\": 9.000000"), ot)
  }

  test("pipeline writers.rialto stage emits the tile tree") {
    val dir = java.nio.file.Files.createTempDirectory("graftrialtop").toString + "/t"
    val spec = s"""{"pipeline":[
      {"type":"readers.faux","count":64,"mode":"ramp",
       "bounds":[-10.0,-5.0,0.0,10.0,5.0,1.0]},
      {"type":"writers.rialto","path":"$dir","max_level":2}]}"""
    graft.plans.Pipeline.run(spark, spec)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/header.json")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/0/0/0.ria"))
      || java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/0/1/0.ria")))
  }
}
