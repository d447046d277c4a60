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
    writeBytes(location, encode(metadata))

  /** The metadata file's bytes: `metadataToJson`, gzip'd. The JDBC store
    * keeps the same bytes in its row. */
  def encode(metadata: TableMetadata): Array[Byte] =
    gzip(JsonCodecs.metadataToJson(metadata))

  /** Inverse of [[encode]] (also accepts plain JSON). */
  def decode(bytes: Array[Byte]): Either[String, TableMetadata] =
    JsonCodecs.metadataFromJson(text(bytes))

  /** Writes bytes from [[encode]], for callers that also keep them. */
  def writeBytes(location: String, bytes: Array[Byte]): Unit =
    if (isWritable(location)) FileIO.forLocation(location).write(location, bytes)

  // adoption seam: decode, then SEMANTIC validation — a hostile tree can
  // be well-shaped JSON and still structurally impossible (duplicate
  // field ids, snapshot parent cycles, out-of-range sequence numbers);
  // both layers answer Left → 400
  def read(location: String): Either[String, TableMetadata] =
    readText(location).flatMap(JsonCodecs.metadataFromJson)
      .flatMap(JsonCodecs.validateAdopted)

  private[catalog] def gzip(json: String): Array[Byte] = {
    val buf = new ByteArrayOutputStream()
    val out = new GZIPOutputStream(buf)
    try out.write(json.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    buf.toByteArray
  }

  /** gzip-sniff instead of trusting the extension: our own mirrors are
    * gzip'd, but register must also accept the PLAIN `*.metadata.json`
    * every other Iceberg writer produces. */
  private[catalog] def text(bytes: Array[Byte]): String =
    if (bytes.length >= 2 &&
        (bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b) {
      val in = new GZIPInputStream(new ByteArrayInputStream(bytes))
      try new String(in.readAllBytes(), StandardCharsets.UTF_8)
      finally in.close()
    } else new String(bytes, StandardCharsets.UTF_8)

  private[catalog] def readText(location: String): Either[String, String] =
    if (!FileIO.canHandle(location))
      Left(s"no storage backend registered for metadata location: $location")
    else FileIO.forLocation(location).read(location).map(text)
      .toRight(s"metadata file not found: $location")
}

/** View-metadata twin of [[MetadataIO]]: same gzip mirror + sniffing
  * rules, the view-spec codec instead of the table one. */
object ViewMetadataIO {

  def write(location: String, metadata: ViewMetadata): Unit =
    MetadataIO.writeBytes(location, MetadataIO.gzip(ViewJsonCodecs.metadataToJson(metadata)))

  def read(location: String): Either[String, ViewMetadata] =
    MetadataIO.readText(location).flatMap(ViewJsonCodecs.metadataFromJson)
}
