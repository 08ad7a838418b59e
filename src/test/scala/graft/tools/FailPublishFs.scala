package graft.tools

import java.net.URI
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

/** A local filesystem under the `failpub:` scheme whose rename FAILS
  * (returns false, as a real store does) whenever the source is a
  * staging directory — a name containing `_staging` — and behaves as
  * the local filesystem otherwise. Spark's own commit renames
  * (`_temporary`, `task_…`, `part-…`) go through, so a frame can be
  * written under a staging dir; only the publish rename of a
  * [[graft.io.Sinks.swap]] fails. Registered per-session via
  * `fs.failpub.impl`.
  */
class FailPublishFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("failpub:///")

  override def rename(src: Path, dst: Path): Boolean =
    !src.getName.contains("_staging") && super.rename(src, dst)
}
