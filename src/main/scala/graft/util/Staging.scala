package graft.util

import java.nio.file.{Files, Path, Paths}

/** Idempotent staging of derived test inputs (TSV/JSON/small-files copies
  * of the canonical parquet, late-arrival micro-batch files).
  *
  * Several source-format queries exercise a *read* path (S3 TSV, S4 JSON,
  * S5 many-small-files) whose input doesn't exist in the test corpus — it
  * must be derived from the parquet tables first. Staging that input inside
  * the query body made the benchmarked numbers sink-dominated (the write
  * cost drowned the scan being measured). Instead, artifacts are staged
  * once per (artifact, sfDir) under a marker file: [[graft.Bench]] and
  * [[graft.Verify]] pre-stage before timing, and the in-query call becomes
  * a marker check. Queries remain self-contained — first call stages.
  *
  * The marker lives inside the artifact directory; Spark's file readers
  * ignore `_`-prefixed files, so it never pollutes the staged data.
  */
object Staging {

  /** Bump when the content of any staged artifact changes shape — stale
    * artifacts from an older code version are then re-staged. */
  private val Version = "v1"

  /** Run `write(dir)` unless `dir` already carries this version's marker;
    * returns `dir`. `write` must (re)create the directory (Spark's
    * `mode("overwrite")` does). Pass `sourcePath` (the file/dir the
    * artifact is derived from) so the marker is keyed by the source's
    * fingerprint too — a regenerated corpus at the same path then
    * re-stages instead of silently serving stale derived data while the
    * oracle reads the new tables. */
  def ensure(dir: String, sourcePath: String = "")(write: String => Unit): String = {
    val fp = if (sourcePath.isEmpty) "" else s"_${fingerprint(sourcePath)}"
    val marker = Paths.get(dir, s"_STAGED_$Version$fp")
    if (!Files.exists(marker)) {
      deleteRecursive(dir) // drop partial/stale leftovers (incl. old markers)
      write(dir)
      Files.createFile(marker)
    }
    dir
  }

  /** Cheap content fingerprint of a file or directory: sizes + mtimes of
    * the (first-level) entries, hashed. Not cryptographic — just enough to
    * notice a rewritten source. */
  def fingerprint(path: String): String = {
    val p = Paths.get(path)
    if (!Files.exists(p)) return "absent"
    val parts: Seq[String] =
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.toSeq.sortBy(_.toString).map(e =>
            s"${e.getFileName}:${Files.size(e)}:${Files.getLastModifiedTime(e).toMillis}")
        } finally s.close()
      } else Seq(s"${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}")
    java.lang.Long.toHexString(
      parts.foldLeft(1125899906842597L)((acc, x) => acc * 31 + x.hashCode))
  }

  /** Absolute path of `name` under `target/scratch` of the working
    * directory: the one root of every scratch artifact (derived inputs,
    * streaming checkpoints and sinks, spec scratch dirs). */
  def scratch(name: String): String =
    new java.io.File("target/scratch", name).getAbsolutePath

  /** The generated test corpus (TESTDATA.md): one directory of parquet
    * tables per scale factor. The one place its root is named — every
    * default corpus path (specs, `Bench`, the plan tools) resolves here. */
  val CorpusRoot = "/root/testdata"

  /** Corpus directory of scale factor `sf` (e.g. `"sf0.01"`). */
  def corpus(sf: String): String = s"$CorpusRoot/$sf"

  /** Canonical scratch location for an artifact derived from `sfDir`. */
  def dirFor(name: String, sfDir: String): String =
    scratch(s"${name}_${math.abs(sfDir.hashCode)}")

  /** Byte-level mirror of `src` into `dest` (files + structure; `dest`
    * is created). The restore half of the pristine-fixture pattern: a
    * mutation query's fresh table copy is STAGED once per (fixture,
    * source) like every other derived input, and each invocation then
    * restores it with a local copy (~ms) instead of a Spark re-stage
    * (~1-2 s of write jobs inside the timed region). */
  def copyRecursive(src: String, dest: String): Unit = {
    val s = Paths.get(src)
    val t = Paths.get(dest)
    Files.walk(s).forEach { p =>
      val q = t.resolve(s.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else {
        Files.createDirectories(q.getParent)
        Files.copy(p, q,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
      }
    }
  }

  def deleteRecursive(path: String): Unit = {
    val base = Paths.get(path)
    if (Files.exists(base))
      Files.walk(base).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
  }
}
