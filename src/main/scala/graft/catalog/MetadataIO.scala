package graft.catalog

import graft.core.{JsonCodecs, TableMetadata, ViewJsonCodecs, ViewMetadata}

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.Path
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

/** Gzip'd `*.gz.metadata.json` file I/O (the Iceberg-standard mirror the
  * reference writes next to the authoritative store row,
  * /root/reference/crates/iceberg-catalog/src/catalog/io.rs:7-85).
  * Byte transport goes through the [[FileIO]] seam, so the mirror lands
  * wherever the table lives — local FS out of the box, any object store
  * whose scheme has a registered backend.
  */
object MetadataIO {

  def toPath(location: String): Path = LocalFileIO.toPath(location)

  /** Writable = some FileIO backend serves the location's scheme. For
    * unregistered schemes the authoritative copy is the store row and
    * the mirror write is skipped (the reference behaves the same until
    * a storage profile is configured). */
  def isWritable(location: String): Boolean = FileIO.canHandle(location)

  def write(location: String, metadata: TableMetadata): Unit =
    writeJson(location, JsonCodecs.metadataToJson(metadata))

  /** Writes an already-encoded `metadataToJson` document, for callers
    * that also store the same string in the catalog row. */
  def writeJson(location: String, json: String): Unit = {
    if (!isWritable(location)) return
    val buf = new ByteArrayOutputStream()
    val out = new GZIPOutputStream(buf)
    try out.write(json.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    FileIO.forLocation(location).write(location, buf.toByteArray)
  }

  def read(location: String): Either[String, TableMetadata] = {
    if (!FileIO.canHandle(location))
      return Left(s"no storage backend registered for metadata location: $location")
    FileIO.forLocation(location).read(location) match {
      case None => Left(s"metadata file not found: $location")
      case Some(bytes) =>
        // gzip-sniff instead of trusting the extension: our own mirrors
        // are gzip'd, but register must also accept the PLAIN
        // `*.metadata.json` every other Iceberg writer produces
        val text =
          if (bytes.length >= 2 &&
              (bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b) {
            val in = new GZIPInputStream(new ByteArrayInputStream(bytes))
            try new String(in.readAllBytes(), StandardCharsets.UTF_8)
            finally in.close()
          } else new String(bytes, StandardCharsets.UTF_8)
        // adoption seam: decode, then SEMANTIC validation — a hostile
        // tree can be well-shaped JSON and still structurally
        // impossible (duplicate field ids, snapshot parent cycles,
        // out-of-range sequence numbers); both layers answer Left → 400
        JsonCodecs.metadataFromJson(text)
          .flatMap(JsonCodecs.validateAdopted)
    }
  }
}

/** View-metadata twin of [[MetadataIO]]: same gzip mirror + sniffing
  * rules, the view-spec codec instead of the table one. */
object ViewMetadataIO {

  def write(location: String, metadata: ViewMetadata): Unit = {
    if (!FileIO.canHandle(location)) return
    val buf = new ByteArrayOutputStream()
    val out = new GZIPOutputStream(buf)
    try out.write(
      ViewJsonCodecs.metadataToJson(metadata).getBytes(StandardCharsets.UTF_8))
    finally out.close()
    FileIO.forLocation(location).write(location, buf.toByteArray)
  }

  def read(location: String): Either[String, ViewMetadata] = {
    if (!FileIO.canHandle(location))
      return Left(s"no storage backend registered for metadata location: $location")
    FileIO.forLocation(location).read(location) match {
      case None => Left(s"metadata file not found: $location")
      case Some(bytes) =>
        val text =
          if (bytes.length >= 2 &&
              (bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b) {
            val in = new GZIPInputStream(new ByteArrayInputStream(bytes))
            try new String(in.readAllBytes(), StandardCharsets.UTF_8)
            finally in.close()
          } else new String(bytes, StandardCharsets.UTF_8)
        ViewJsonCodecs.metadataFromJson(text)
    }
  }
}
