package graft

import java.nio.file.{Files, Paths}

/** The committed test inputs under `data/fixtures`, named once for every
  * spec. Paths are relative to the project root, which is the working
  * directory of the forked test JVM, so the suite reads the fixtures of
  * its own checkout wherever that checkout lives (FIXTURES.md §A). */
object TestFixtures {

  /** The reference's three-line ERDDAP sample (`data/sea_surface_sample.csv`,
    * FIXTURES.md §A1): names row, units row, one data row. */
  val SeaSurfaceSample = "data/fixtures/sea_surface_sample.csv"

  /** The dirty raw fixture: units row, bad dates, partial nulls. */
  val SeaSurfaceRaw = "data/fixtures/sea_surface_raw.csv"

  /** A 7×5 RGB gradient PNG with predictable pixels. */
  val TinyRgbPng = "data/fixtures/tiny_rgb.png"

  def text(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), "UTF-8")
}
