package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.{Bpf, LasWriter, Nitf, Sbet}

/** Engine-written stand-ins for reference fixtures, read through
  * [[TestSpark.refOr]] only where the fixture root is absent and only by
  * specs that need some file of the format, not the fixture's content.
  * Each file is written once per JVM through the engine's own writer,
  * from values that are arithmetic in the row index, so every twin is
  * the same file on every run. */
object Twins {
  import TestSpark.spark

  /** One temporary directory for every twin, removed at JVM exit once
    * emptied. */
  private lazy val dir = {
    val d = Files.createTempDirectory("graft-twins").toString
    new java.io.File(d).deleteOnExit()
    d
  }

  /** `name` under [[dir]], written by `write`; removed at JVM exit. */
  private def twin(name: String)(write: String => Unit): String = {
    val p = s"$dir/$name"
    write(p)
    new java.io.File(p).deleteOnExit()
    p
  }

  /** `n` points arithmetic in the row index i, with origin (x0, y0, z0)
    * and step (dx, dy, dz): x = x0 + (i % row) * dx,
    * y = y0 + (i / row) * dy, z = z0 + (i % zRow) * dz and intensity =
    * i % 200; doc_id "grid", span_idx i. Callers pick origin and steps
    * on a binary-fraction grid coarse enough for their magnitudes, so
    * every container of the coordinates stores them exactly. */
  def grid(n: Int, row: Int, zRow: Int, origin: (Double, Double, Double),
           step: (Double, Double, Double)): DataFrame = spark.range(0, n).select(
    lit("grid").as("doc_id"), col("id").cast("int").as("span_idx"),
    ((col("id") % row) * step._1 + origin._1).as("x"),
    ((col("id") / row).cast("long") * step._2 + origin._2).as("y"),
    ((col("id") % zRow) * step._3 + origin._3).as("z"),
    (col("id") % 200).cast("int").as("intensity"))

  /** 600 points at the autzen fixtures' magnitudes (x ~ 4.94e5,
    * y ~ 4.877e6, z in 120-180), every coordinate on a 0.5 grid so a
    * float32 container stores it exactly. Columns x, y, z, intensity in
    * that order: BpfSpec corrupts the 4th dimension's block. */
  private def cloud: DataFrame =
    grid(600, 40, 121, (494000.0, 4877000.0, 120.0), (12.5, 12.5, 0.5))

  /** BPF v3, [[Bpf.write]]'s default options (point-major, uncompressed),
    * with three more dimensions after intensity (return number,
    * classification and a GPS time on a 1/4 grid, exact in float32) so a
    * round trip carries the kinds of dimension a LAS-derived BPF holds. */
  lazy val bpf: String = twin("twin.bpf")(Bpf.write(_, cloud.select(col("*"),
    (col("span_idx") % 3 + 1).as("return_number"),
    (col("span_idx") % 7).as("classification"),
    (col("span_idx") * 0.25 + 245000.0).as("gps_time"))))

  /** LAZ (point format 1) through [[LasWriter.writeLaz]]. */
  lazy val laz: String =
    twin("twin.laz")(LasWriter.writeLaz(_, cloud, 1, LasWriter.XForms(0.01, 0.01, 0.01, 0, 0, 0)))

  /** LAS-in-NITF through [[Nitf.write]]: a 401-byte file header and no
    * image segment, so the LIDARA DES subheader starts at byte 401. */
  lazy val nitf: String = twin("twin.ntf")(Nitf.write(_, cloud))
  val NitfDesAt = 401

  /** Eight SBET records through [[Sbet.write]], dimension j of record i
    * = i * (j + 1) * 0.25 + j. */
  lazy val sbet: String = twin("twin.sbet")(Sbet.write(_, spark.range(0, 8).select(
    col("id").cast("int").as("span_idx") +: Sbet.dims.zipWithIndex.map { case (d, j) =>
      (col("id") * ((j + 1) * 0.25) + j).as(d) }: _*)))

  /** [[sbet]] plus one trailing byte (not a whole number of records). */
  lazy val sbetBad: String = twin("twin-bad.sbet") { p =>
    Files.write(Paths.get(p), Files.readAllBytes(Paths.get(sbet)) :+ 0.toByte)
  }
}
