package graft.sources.v2

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.GraftError

/** Input files of a file-based DSV2 scan. The `path` option names one file,
  * or a directory whose files ending in one of `exts` are read in name
  * order. Extensions match in any letter case, like
  * [[graft.sources.SourceDispatch.determineFileType]]. A directory with no
  * such file is a [[GraftError.FailedValidation]]. */
private[v2] object SourcePaths {
  def resolve(options: CaseInsensitiveStringMap, source: String, exts: String*): Seq[String] = {
    val path = Option(options.get("path")).getOrElse(
      throw GraftError.FailedValidation(s"$source source requires a path"))
    val dir = Paths.get(path)
    if (!Files.isDirectory(dir)) Seq(path)
    else {
      val listing = Files.list(dir)
      val files =
        try listing.iterator().asScala.map(_.toString)
          .filter(f => exts.exists(f.toLowerCase.endsWith)).toVector.sorted
        finally listing.close()
      if (files.isEmpty)
        throw GraftError.FailedValidation(s"no ${exts.mkString("|")} files under $path")
      files
    }
  }
}
