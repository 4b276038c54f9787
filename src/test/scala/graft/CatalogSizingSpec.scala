package graft

import graft.ops.CatalogOps
import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The input size `q_column_stats` gates its repartition on: it must be
  * the bytes the scan reads, whatever the table's layout — one file, or a
  * directory of nested partition directories with the writer's
  * `_SUCCESS` marker and `.crc` checksums beside the part files. */
class CatalogSizingSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("the column_stats gate sizes a nested-partitioned lineitem by " +
      "its part files") {
    val dir = Files.createTempDirectory("li_nested").toString
    val path = s"$dir/lineitem.parquet"
    Tables.lineitem(spark, TestSession.sf).write
      .partitionBy("l_returnflag", "l_linestatus").parquet(path)
    val files = Files.walk(Paths.get(path)).iterator.asScala
      .filter(Files.isRegularFile(_)).toSeq
    def name(p: Path) = p.getFileName.toString
    val parts = files.filter(f => !name(f).startsWith("_") &&
      !name(f).startsWith("."))
    // the layout really is nested, and carries the files a scan skips
    assert(parts.nonEmpty && parts.forall(p =>
      name(p.getParent).startsWith("l_linestatus=") &&
        name(p.getParent.getParent).startsWith("l_returnflag=")), s"$parts")
    assert(files.exists(f => name(f) == "_SUCCESS"), s"$files")
    assert(files.exists(f => name(f).endsWith(".crc")), s"$files")

    assert(CatalogOps.inputBytes(spark, path) === parts.map(Files.size).sum)
    // the single-file layout sizes as the file; a missing path as 0
    val single = s"${TestSession.sf}/lineitem.parquet"
    assert(CatalogOps.inputBytes(spark, single) ===
      Files.size(Paths.get(single)))
    assert(CatalogOps.inputBytes(spark, s"$dir/missing.parquet") === 0L)
  }
}
