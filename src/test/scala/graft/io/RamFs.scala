package graft.io

import java.io.{File, IOException, OutputStream}
import java.net.URI

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** A custom-scheme Hadoop FileSystem for the object-store seam spec.
  *
  * Registered via `fs.ramfs.impl` through [[Sources.configureFs]] — the
  * exact mechanism a production deployment uses for `gs://`/`s3a://`
  * connectors — so the spec proves scheme→implementation resolution,
  * credential pass-through, and a full parquet source→sink round-trip on
  * a NON-`file:` scheme without any egress. Storage delegates to local
  * disk with the logical path equal to the backing path (only the scheme
  * differs): a one-way `pathToFile` remap is NOT enough for a Hadoop FS —
  * `getFileStatus`/`listStatus` qualify result paths from the backing
  * files, so a remapped root leaks back into commit-protocol paths and
  * double-resolves (observed with the parquet FileOutputCommitter).
  * Callers therefore write under `ramfs:<RamFs.root>/...`.
  *
  * Every file create or append passes [[RamFs.failCreate]] first, so a
  * spec can make chosen writes throw the way a failing object store would. */
class RamFs extends RawLocalFileSystem {
  override def getScheme: String = "ramfs"
  override def getUri: URI = URI.create("ramfs:///")
  override protected def createOutputStreamWithMode(f: Path, append: Boolean,
                                                    permission: FsPermission): OutputStream = {
    if (RamFs.failCreate(f)) throw new IOException(s"injected create failure: $f")
    super.createOutputStreamWithMode(f, append, permission)
  }
}

object RamFs {
  /** Creates for which this returns true throw an `IOException`. A spec
    * that sets it matches only paths under its own directory (suites may
    * share the JVM) and resets it to `_ => false` when done. */
  @volatile var failCreate: Path => Boolean = _ => false

  /** Per-JVM sandbox directory the spec writes beneath. */
  lazy val root: File = {
    val f = java.nio.file.Files.createTempDirectory("graft-ramfs").toFile
    f.deleteOnExit()
    f
  }
}
