package graft.testfs

import org.apache.hadoop.fs.RawLocalFileSystem
import java.net.URI

/** A RawLocalFileSystem re-registered under the scheme `mockfs` (via the
  * Hadoop FileSystem ServiceLoader resource in test resources) — backed
  * by the local disk, but reachable ONLY through the Hadoop FileSystem
  * API: `new java.io.File("mockfs:/...")` does not exist, so any engine
  * code path that falls back to `java.io.File`/`java.nio.file` sees an
  * empty/missing directory. Specs build and mutate an index under this
  * scheme to prove the index IO is storage-portable (the reference routes
  * all index IO through `Directory`, `core/store/Directory.java:51`).
  */
class MockFs extends RawLocalFileSystem {
  override def getScheme: String = "mockfs"
  override def getUri: URI = URI.create("mockfs:///")
}

/** A local-disk FileSystem under the scheme `crcfailfs` whose `delete`
  * throws for `.crc` sidecar paths, with an AbstractFileSystem binding
  * ([[CrcFailAfs]]) so `FileContext` renames go through it — the shape
  * of a store whose cleanup call fails after a write has committed.
  */
class CrcFailFs extends RawLocalFileSystem {
  override def getScheme: String = "crcfailfs"
  override def getUri: URI = URI.create("crcfailfs:///")
  override def delete(p: org.apache.hadoop.fs.Path, recursive: Boolean): Boolean =
    if (p.getName.endsWith(".crc")) throw new java.io.IOException(s"injected delete failure: $p")
    else super.delete(p, recursive)
}

class CrcFailAfs(uri: URI, conf: org.apache.hadoop.conf.Configuration)
    extends org.apache.hadoop.fs.DelegateToFileSystem(uri, new CrcFailFs, conf, "crcfailfs", false)
