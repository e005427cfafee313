package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

object Stats {
  /** Linear-interpolated percentile, `p` in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** The tail percentile for `n` samples: the highest of 99/95/90/75/50
    * with at least ten samples beyond it (50 when there are fewer than
    * twenty samples, which the report then shows by its sample count). */
  def tailPct(n: Int): Double =
    Seq(99.0, 95.0, 90.0, 75.0).find(p => n * (100 - p) / 100 >= 10).getOrElse(50.0)

  /** (p50, tail value, tail percentile, sample count) of `xs`. */
  def summary(xs: Seq[Double]): (Double, Double, Double, Int) =
    if (xs.isEmpty) (0.0, 0.0, 0.0, 0)
    else {
      val p = tailPct(xs.size)
      (median(xs), pct(xs, p), p, xs.size)
    }
}

/** Sizes of a warehouse on disk, by walking it. */
final case class DiskUse(bytes: Long, metaBytes: Long, dataFiles: Long, deleteFiles: Long)

object DiskUse {
  /** Data files sit under `data/`, delete files under `deletes/`; every
    * other file (pointer logs, manifests, table documents, sidecars) counts
    * as metadata. */
  def of(root: Path): DiskUse = {
    if (!Files.exists(root)) return DiskUse(0, 0, 0, 0)
    val s = Files.walk(root)
    try {
      var bytes, meta, data, dels = 0L
      s.iterator().asScala.filter(Files.isRegularFile(_)).foreach { p =>
        val n = Files.size(p)
        val parts = root.relativize(p).iterator().asScala.map(_.toString).toSeq
        val name = p.getFileName.toString
        bytes += n
        if (name.endsWith(".parquet") && parts.contains("data")) data += 1
        else if (name.endsWith(".parquet") && parts.contains("deletes")) dels += 1
        else if (!name.endsWith(".crc") && !name.startsWith("_SUCCESS")) meta += n
      }
      DiskUse(bytes, meta, data, dels)
    } finally s.close()
  }
}

/** Live heap: the heap in use right after a full collection. Taken at
  * fixed points of a run, it does not depend on when the collector
  * happened to run, as the used heap at any other moment does. */
object LiveHeap {
  def mb(): Double = {
    // the first collection hands Spark's ContextCleaner the broadcasts and
    // shuffles nothing references any more; once it has dropped their
    // blocks, the second frees them
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed.toDouble / (1 << 20)
  }
}
