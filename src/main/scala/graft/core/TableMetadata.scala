package graft.core

import java.util.UUID

/** The table's whole metadata document (SURVEY.md §1.2). Persisted as
  * JSON by the store; the authoritative copy lives in the catalog store
  * (mirroring the reference, where the Postgres JSONB row is
  * authoritative and the S3 file is a mirror — postgres/table.rs:271-310).
  */
final case class TableMetadata(
    formatVersion: Int,
    tableUuid: UUID,
    location: String,
    lastSequenceNumber: Long,
    lastUpdatedMs: Long,
    lastColumnId: Int,
    schemas: Map[Int, Schema],
    currentSchemaId: Int,
    partitionSpecs: Map[Int, PartitionSpec],
    defaultSpecId: Int,
    lastPartitionId: Int,
    properties: Map[String, String],
    currentSnapshotId: Option[Long],
    snapshots: Map[Long, Snapshot],
    snapshotLog: Seq[SnapshotLogEntry],
    metadataLog: Seq[MetadataLogEntry],
    sortOrders: Map[Int, SortOrder],
    defaultSortOrderId: Int,
    refs: Map[String, SnapshotReference]) {

  def currentSchema: Schema = schemas(currentSchemaId)
  def defaultSpec: PartitionSpec = partitionSpecs(defaultSpecId)
  def defaultSortOrder: SortOrder = sortOrders(defaultSortOrderId)
  def currentSnapshot: Option[Snapshot] = currentSnapshotId.flatMap(snapshots.get)
  def ref(name: String): Option[SnapshotReference] = refs.get(name)
  def snapshotFor(refName: String): Option[Snapshot] =
    refs.get(refName).flatMap(r => snapshots.get(r.snapshotId))
}

object TableMetadata {
  val MainBranch = "main"

  /** Reserved property keys rejected on set-properties (mirrors the
    * reference's 9 reserved keys, table_metadata.rs:86-96). */
  val ReservedProperties: Set[String] = Set(
    "format-version", "uuid", "snapshot-count", "current-snapshot-summary",
    "current-snapshot-id", "current-snapshot-timestamp-ms", "current-schema",
    "default-partition-spec", "default-sort-order")

  val SupportedFormatVersions: Set[Int] = Set(1, 2)

  /** How many earlier metadata files a table's metadata log keeps. */
  val PreviousVersionsMax = "write.metadata.previous-versions-max"
  val DefaultPreviousVersionsMax = 100

  /** `next` with `previous` appended to its metadata log, keeping the
    * newest [[PreviousVersionsMax]] entries (at least one, as Iceberg
    * does). The files of dropped entries are not deleted. */
  def appendMetadataLog(next: TableMetadata, previous: MetadataLogEntry): TableMetadata = {
    val keep = next.properties.get(PreviousVersionsMax).flatMap(_.toIntOption)
      .getOrElse(DefaultPreviousVersionsMax).max(1)
    next.copy(metadataLog = (next.metadataLog :+ previous).takeRight(keep))
  }
}

/** Uniform commit-time error (the catalog maps these onto the REST error
  * contract: 409 conflicts, 400 validation — FIXTURES.md §8). */
final case class CommitError(errorType: String, message: String)
    extends RuntimeException(s"$errorType: $message")

object CommitError {
  def validation(msg: String): CommitError = CommitError("ValidationError", msg)
  def conflict(errorType: String, msg: String): CommitError = CommitError(errorType, msg)
}
