package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Clean-room minimal HDF5 parser — just enough of the PUBLIC "HDF5 File
  * Format Specification" (Version 1.0/2.0, hdfgroup.org) to read NASA
  * IceBridge ATM1B granules, which the reference consumes through the
  * external HDF5 C++ library (plugins/icebridge/io/Hdf5Handler.cpp):
  *
  *  - version-0 superblock (8-byte offsets/lengths);
  *  - "old-style" groups: version-1 B-trees (`TREE`, node type 0) over
  *    symbol-table nodes (`SNOD`) with names in a local heap (`HEAP`);
  *  - version-1 object headers with continuation (0x0010) messages;
  *  - messages: dataspace (0x0001 v1), datatype (0x0003: fixed-point
  *    and IEEE-float classes, little/big endian), data layout (0x0008
  *    v3: contiguous, compact, AND chunked classes), filter pipeline
  *    (0x000B v1: deflate and the order-preserving shuffle filter);
  *  - chunked data via the version-1 raw-data B-tree (node type 1),
  *    per-chunk zlib inflate, edge-chunk clamping;
  *  - 1-D datasets of i8..i64/u8..u32/f32/f64 read into doubles.
  *
  * Anything beyond that subset (new-style fractal-heap groups, v2+
  * superblocks, other filters) fails loudly by design. Real NSIDC
  * ATM1B granules are chunked+deflate 1-D vectors — exactly the
  * chunked path; the reference's fixture is contiguous.
  */
object Hdf5Lite {

  final case class Chunked(btree: Long, chunkDims: Seq[Int])
  final case class Dataset(rank: Int, dims: Seq[Long], tclass: Int,
      tsize: Int, littleEndian: Boolean, signed: Boolean,
      dataAt: Long, dataLen: Long, compact: Option[Array[Byte]],
      chunked: Option[Chunked] = None,
      filters: Seq[Int] = Nil)

  final class File(val bytes: Array[Byte]) {
    private val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(bytes.length >= 100 &&
      bytes.startsWith(Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n')),
      "hdf5: bad signature")
    require(bytes(8) == 0, s"hdf5: superblock version ${bytes(8)} unsupported (v0 only)")
    require(bytes(13) == 8 && bytes(14) == 8,
      "hdf5: only 8-byte offsets/lengths supported")
    /** root group's symbol-table scratch: B-tree + heap address. */
    private val rootBtree = bb.getLong(80)
    private val rootHeap = bb.getLong(88)

    private def heapName(heapAddr: Long, linkOff: Long): String = {
      require(new String(bytes, heapAddr.toInt, 4, StandardCharsets.US_ASCII) == "HEAP",
        "hdf5: bad local heap signature")
      val dataSeg = bb.getLong(heapAddr.toInt + 24)
      val start = (dataSeg + linkOff).toInt
      var end = start
      while (bytes(end) != 0) end += 1
      new String(bytes, start, end - start, StandardCharsets.US_ASCII)
    }

    /** (name -> object header address) entries of one old-style group. */
    private def groupEntries(btreeAddr: Long, heapAddr: Long): Seq[(String, Long)] = {
      val at = btreeAddr.toInt
      require(new String(bytes, at, 4, StandardCharsets.US_ASCII) == "TREE",
        "hdf5: bad B-tree signature")
      require(bytes(at + 4) == 0, "hdf5: B-tree node type != group")
      val level = bytes(at + 5) & 0xff
      val n = bb.getShort(at + 6) & 0xffff
      // keys (heap offsets, 8 bytes) and children alternate after the
      // 8-byte siblings pair; n children, n+1 keys
      val children = (0 until n).map(i => bb.getLong(at + 8 + 16 + 8 + i * 16))
      if (level > 0) children.flatMap(c => groupEntries(c, heapAddr))
      else children.flatMap { snod =>
        val s = snod.toInt
        require(new String(bytes, s, 4, StandardCharsets.US_ASCII) == "SNOD",
          "hdf5: bad symbol node signature")
        val nsym = bb.getShort(s + 6) & 0xffff
        (0 until nsym).map { i =>
          val p = s + 8 + i * 40
          (heapName(heapAddr, bb.getLong(p)), bb.getLong(p + 8))
        }
      }
    }

    /** All (type, body) messages of a v1 object header, following
      * continuations. */
    private def messages(objAddr: Long): Seq[(Int, Array[Byte])] = {
      val a = objAddr.toInt
      require(bytes(a) == 1, s"hdf5: object header version ${bytes(a)} unsupported")
      val nmsg = bb.getShort(a + 2) & 0xffff
      val hdrSize = bb.getInt(a + 8)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Byte])]
      var pos = a + 16 // 12-byte prefix + 4-byte alignment pad
      var end = pos + hdrSize
      var seen = 0
      while (seen < nmsg && pos + 8 <= end) {
        val mtype = bb.getShort(pos) & 0xffff
        val msize = bb.getShort(pos + 2) & 0xffff
        val body = java.util.Arrays.copyOfRange(bytes, pos + 8, pos + 8 + msize)
        seen += 1
        if (mtype == 0x0010) { // continuation: jump into the next block
          val cbb = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
          pos = cbb.getLong(0).toInt
          end = pos + cbb.getLong(8).toInt
        } else {
          out += ((mtype, body))
          pos += 8 + msize
        }
      }
      out.toSeq
    }

    /** Resolve a /-separated path through old-style groups. */
    private def resolve(path: String): Long = {
      var (bt, hp) = (rootBtree, rootHeap)
      var addr = -1L
      path.split("/").filter(_.nonEmpty).foreach { part =>
        val entries = groupEntries(bt, hp)
        addr = entries.collectFirst { case (n, a) if n == part => a }
          .getOrElse(throw new IllegalArgumentException(
            s"hdf5: no object '$part' (have ${entries.map(_._1).mkString(",")})"))
        // if this object is itself a group, pick up its symbol table
        messages(addr).collectFirst { case (0x0011, body) =>
          val mb = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
          bt = mb.getLong(0); hp = mb.getLong(8)
        }
      }
      addr
    }

    def dataset(path: String): Dataset = {
      val msgs = messages(resolve(path))
      var rank = -1; var dims: Seq[Long] = Nil
      var tclass = -1; var tsize = 0; var le = true; var signed = true
      var dataAt = -1L; var dataLen = -1L
      var compact: Option[Array[Byte]] = None
      var chunked: Option[Chunked] = None
      var filters: Seq[Int] = Nil
      msgs.foreach { case (t, body) =>
        val mb = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
        t match {
          case 0x0001 => // dataspace v1: ver, rank, flags, 5 reserved, dims
            require(body(0) == 1, "hdf5: dataspace version != 1")
            rank = body(1) & 0xff
            dims = (0 until rank).map(i => mb.getLong(8 + 8 * i))
          case 0x0003 => // datatype
            tclass = body(0) & 0x0f
            tsize = mb.getInt(4)
            le = (body(1) & 0x01) == 0
            signed = tclass != 0 || (body(1) & 0x08) != 0
            require(tclass == 0 || tclass == 1,
              s"hdf5: datatype class $tclass unsupported (fixed/float only)")
          case 0x0008 => // data layout v3
            require(body(0) == 3, s"hdf5: layout version ${body(0)} unsupported")
            (body(1) & 0xff) match {
              case 0 => // compact: u16 size, raw data
                val n = mb.getShort(2) & 0xffff
                compact = Some(java.util.Arrays.copyOfRange(body, 4, 4 + n))
              case 1 =>
                dataAt = mb.getLong(2); dataLen = mb.getLong(10)
              case 2 => // chunked: dimensionality (= rank+1), btree addr,
                // then dimensionality x u32 chunk dims (last = elem size)
                val ndim = body(2) & 0xff
                val bt = mb.getLong(3)
                val cdims = (0 until ndim).map(i => mb.getInt(11 + 4 * i))
                chunked = Some(Chunked(bt, cdims))
              case c => throw new IllegalArgumentException(
                s"hdf5: layout class $c unsupported")
            }
          case 0x000B => // filter pipeline v1: nfilters, then per filter
            // id(2) namelen(2) flags(2) nvalues(2) name(pad8) values(pad8)
            require(body(0) == 1, s"hdf5: filter pipeline version ${body(0)}")
            val nf = body(1) & 0xff
            var p = 8
            val ids = (0 until nf).map { _ =>
              val id = mb.getShort(p) & 0xffff
              val nameLen = mb.getShort(p + 2) & 0xffff
              val nVals = mb.getShort(p + 6) & 0xffff
              p += 8 + nameLen + 4 * nVals
              if (nVals % 2 == 1) p += 4 // values padded to 8 bytes
              id
            }
            filters = ids
            // 1 = deflate, 2 = shuffle (byte transpose — order-preserving)
            require(ids.forall(id => id == 1 || id == 2),
              s"hdf5: unsupported filter ids ${ids.mkString(",")} (deflate/shuffle only)")
          case _ =>
        }
      }
      require(rank >= 0 && tclass >= 0 &&
        (dataAt >= 0 || compact.isDefined || chunked.isDefined),
        s"hdf5: $path is not a readable dataset")
      Dataset(rank, dims, tclass, tsize, le, signed, dataAt, dataLen,
        compact, chunked, filters)
    }

    /** Raw element bytes of rows [lo, hi) of a chunked rank-1 dataset:
      * walk the v1 raw-data B-tree (node type 1), and for every LEAF
      * chunk intersecting the range, inflate it and place the overlap
      * at its logical offset; chunks wholly outside [lo, hi) are never
      * touched (no copy, no inflate, no de-shuffle) — the chunk-level
      * pruning a record-range read lives on (proven by the
      * corrupted-excluded-chunk spec: a damaged out-of-range chunk is
      * invisible to a range read and fatal to a full one). Pruning is
      * applied at the leaf level, where each entry's own key carries
      * the chunk's start row — internal nodes are always descended
      * (their per-child extents would need the sibling key; leaf-key
      * walks are cheap next to the skipped inflates). */
    private def chunkedBytes(d: Dataset, lo: Long, hi: Long): Array[Byte] = {
      val ch = d.chunked.get
      val elem = ch.chunkDims.last
      require(elem == d.tsize, s"hdf5: chunk elem size $elem != type size ${d.tsize}")
      val chunkRows = ch.chunkDims.head.toLong
      val out = new Array[Byte](((hi - lo) * d.tsize).toInt)
      val keyLen = 8 + 8 * ch.chunkDims.size // size+mask + ndim offsets
      def walk(addr: Long): Unit = {
        val at = addr.toInt
        require(new String(bytes, at, 4, StandardCharsets.US_ASCII) == "TREE",
          "hdf5: bad raw-data B-tree signature")
        require(bytes(at + 4) == 1, "hdf5: B-tree node type != raw data")
        val level = bytes(at + 5) & 0xff
        val nEnt = bb.getShort(at + 6) & 0xffff
        var p = at + 24 // past siblings
        (0 until nEnt).foreach { _ =>
          val chunkBytes = bb.getInt(p)
          val rowOff = bb.getLong(p + 8) // first (slowest) dim offset
          val child = bb.getLong(p + keyLen)
          if (level > 0) walk(child)
          else if (rowOff + chunkRows > lo && rowOff < hi) {
            val raw = java.util.Arrays.copyOfRange(
              bytes, child.toInt, child.toInt + chunkBytes)
            var data = if (d.filters.contains(1)) {
              val inf = new java.util.zip.Inflater()
              inf.setInput(raw)
              val buf = new Array[Byte]((chunkRows * d.tsize).toInt)
              var m = 0
              while (!inf.finished() && m < buf.length) {
                val n = inf.inflate(buf, m, buf.length - m)
                // a corrupt/truncated deflate chunk yields n==0 with
                // finished()==false forever — fail loudly, don't spin
                require(n > 0 || inf.finished() || inf.needsInput(),
                  s"zlib stall inflating HDF5 chunk at offset $child")
                require(n > 0 || inf.finished(),
                  s"truncated deflate HDF5 chunk at offset $child")
                m += n
              }
              inf.end()
              java.util.Arrays.copyOf(buf, m)
            } else raw
            if (d.filters.contains(2)) { // shuffle: de-transpose bytes
              val rows = data.length / d.tsize
              val un = new Array[Byte](data.length)
              var i = 0
              while (i < rows) {
                var b = 0
                while (b < d.tsize) {
                  un(i * d.tsize + b) = data(b * rows + i); b += 1
                }
                i += 1
              }
              data = un
            }
            val dataRows = data.length / d.tsize
            val from = math.max(rowOff, lo)
            val until = math.min(rowOff + dataRows, hi)
            if (until > from)
              System.arraycopy(data, ((from - rowOff) * d.tsize).toInt,
                out, ((from - lo) * d.tsize).toInt,
                ((until - from) * d.tsize).toInt)
          }
          p += keyLen + 8
        }
      }
      walk(ch.btree)
      out
    }

    /** Read a rank-1 dataset as doubles. */
    def readVector(path: String): Array[Double] = {
      val d = dataset(path)
      readVectorRange(path, 0L, d.dims.head)
    }

    /** Number of rows of a rank-1 dataset — header-only, no data read. */
    def rowCount(path: String): Long = {
      val d = dataset(path)
      require(d.rank == 1, s"hdf5: $path has rank ${d.rank}, want 1")
      d.dims.head
    }

    /** Read rows [lo, hi) of a rank-1 dataset as doubles. For a chunked
      * dataset only the chunks intersecting the range are decompressed
      * (chunk-range pruning); contiguous/compact layouts slice. */
    def readVectorRange(path: String, lo: Long, hi0: Long): Array[Double] = {
      val d = dataset(path)
      require(d.rank == 1, s"hdf5: $path has rank ${d.rank}, want 1")
      val hi = math.min(hi0, d.dims.head)
      require(lo >= 0 && lo <= hi, s"hdf5: bad row range [$lo, $hi0)")
      val n = (hi - lo).toInt
      val raw =
        if (d.chunked.isDefined) chunkedBytes(d, lo, hi)
        else {
          val full = d.compact.getOrElse(
            java.util.Arrays.copyOfRange(bytes, d.dataAt.toInt, (d.dataAt + d.dataLen).toInt))
          java.util.Arrays.copyOfRange(full, (lo * d.tsize).toInt, (hi * d.tsize).toInt)
        }
      val rb = ByteBuffer.wrap(raw)
        .order(if (d.littleEndian) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
      Array.tabulate(n) { i =>
        val at = i * d.tsize
        (d.tclass, d.tsize) match {
          case (1, 4) => rb.getFloat(at).toDouble
          case (1, 8) => rb.getDouble(at)
          case (0, 1) => if (d.signed) rb.get(at).toDouble else (rb.get(at) & 0xff).toDouble
          case (0, 2) => if (d.signed) rb.getShort(at).toDouble else (rb.getShort(at) & 0xffff).toDouble
          case (0, 4) => if (d.signed) rb.getInt(at).toDouble else (rb.getInt(at).toLong & 0xffffffffL).toDouble
          case (0, 8) => rb.getLong(at).toDouble
          case (c, s) => throw new IllegalArgumentException(s"hdf5: type class $c size $s")
        }
      }
    }
  }
}

/** readers.icebridge — NASA IceBridge ATM1B (HDF5) reader
  * (plugins/icebridge/io/IcebridgeReader.cpp: the fixed 12-dataset
  * column list, float/int payloads; latitude->y, longitude->x,
  * elevation->z, azimuth->scan_angle_rank, rel_time->gps_time,
  * time_hhmmss->offset_time, xmt/rcv_sigstr->start/reflected_pulse). */
object Icebridge {

  /** (hdf5 path, engine column, integer?) per IcebridgeReader.cpp's
    * hdf5Columns + getDefaultDimensions order. */
  val columns: Seq[(String, String, Boolean)] = Seq(
    ("instrument_parameters/time_hhmmss", "offset_time", false),
    ("latitude", "y", false),
    ("longitude", "x", false),
    ("elevation", "z", false),
    ("instrument_parameters/xmt_sigstr", "start_pulse", true),
    ("instrument_parameters/rcv_sigstr", "reflected_pulse", true),
    ("instrument_parameters/azimuth", "scan_angle_rank", false),
    ("instrument_parameters/pitch", "pitch", false),
    ("instrument_parameters/roll", "roll", false),
    ("instrument_parameters/gps_pdop", "pdop", false),
    ("instrument_parameters/pulse_width", "pulse_width", false),
    ("instrument_parameters/rel_time", "gps_time", false))

  def schema: StructType = StructType(
    StructField("doc_id", StringType, nullable = false) +:
    StructField("span_idx", IntegerType, nullable = false) +:
    columns.map { case (_, name, isInt) =>
      val dt =
        if (Seq("x", "y", "z").contains(name)) DoubleType
        else if (isInt) IntegerType
        else FloatType
      StructField(name, dt, nullable = false)
    })

  def decode(bytes: Array[Byte], docId: String): (StructType, Seq[Row]) =
    decode(bytes, docId, 0L, Long.MaxValue)

  /** Decode rows [lo, hi) only: the HDF5 chunk B-tree walk skips (never
    * inflates) chunks outside the range — a `count`-limited or split
    * read touches O(range) of a granule's compressed bytes, not all of
    * it. span_idx stays the ABSOLUTE row index. */
  def decode(bytes: Array[Byte], docId: String,
             lo: Long, hi0: Long): (StructType, Seq[Row]) = {
    val f = new Hdf5Lite.File(bytes)
    val total = columns.map { case (path, _, _) => f.rowCount(path) }.min
    val hi = math.min(hi0, total)
    val vecs = columns.map { case (path, _, _) => f.readVectorRange(path, lo, hi) }
    val n = vecs.map(_.length).min
    require(vecs.forall(_.length == n),
      s"icebridge: ragged datasets (${vecs.map(_.length).mkString(",")})")
    val rows = (0 until n).map { i =>
      val vals: Seq[Any] = columns.zipWithIndex.map { case ((_, name, isInt), c) =>
        val v = vecs(c)(i)
        if (name == "offset_time") v.toFloat * 1000f // s -> ms after the
          // float32 hop, exactly like IcebridgeReader.cpp's `*fval * 1000`
        else if (Seq("x", "y", "z").contains(name)) v
        else if (isInt) v.toInt
        else v.toFloat
      }
      Row.fromSeq(docId +: (lo + i).toInt +: vals)
    }
    (schema, rows)
  }

  /** Icebridge on the codec seam; `count` reads rows [0, count) of each
    * granule (pruning the HDF5 chunk B-tree walk). */
  final case class Codec(count: Long = Long.MaxValue) extends PointCodec {
    def exts: Seq[String] = Seq("h5")
    def schema(head: => Array[Byte]): StructType = Icebridge.schema
    def decode(bytes: Array[Byte], docId: String): (StructType, Seq[Row]) =
      Icebridge.decode(bytes, docId, 0L, count)
  }
}
