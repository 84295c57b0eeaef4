package graft.model

/** Snapshot audit record, written as `catalog.json` next to the output
  * (reference `internal/catalog/catalog.go:15-23`, SURVEY.md §1.1).
  */
case class Catalog(
    id: String,
    startTimeMs: Long,
    endTimeMs: Long,
    source: String,
    numSourceRecords: Long,
    numRecordsProcessed: Long,
    success: Boolean)
