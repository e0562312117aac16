package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

class GeoTableLogRetainSpec extends AnyFunSuite {

  test("retain treats a rename lost to a concurrent retirer as done, also when rename throws") {
    // A concurrent retirer moves the file first; the local FileSystem's
    // rename then falls back to a copy of the vanished source and throws
    // FileNotFoundException instead of returning false.
    val fs = new LocalFileSystem {
      override def rename(src: Path, dst: Path): Boolean = {
        super.rename(src, dst) // the other retirer wins the move
        throw new java.io.FileNotFoundException(s"File $src does not exist")
      }
    }
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    val base = java.nio.file.Files.createTempDirectory("retain").toString
    val file = new Path(base, "part-00000.parquet")
    fs.create(file).close()
    fs.mkdirs(new Path(base, "_graft_log/retained"))

    GeoTableLog.retain(fs, base, file)
    assert(!fs.exists(file))
    assert(fs.exists(new Path(base, "_graft_log/retained/part-00000.parquet")))
  }
}
