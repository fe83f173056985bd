package graft.records

import java.sql.Timestamp

/** Typed core of the reference's data model (SURVEY §1).
  *
  * One wide record row with a `record_type` discriminator and nullable
  * per-type fields replaces the reference's joined-table polymorphism
  * (`qcfractal/components/record_db_models.py:181-266`): a union-all scan
  * over subtype tables becomes a single partition-prunable table, which is
  * the right trade at 100 TB (no join to reassemble a record, subtype
  * columns are null-compressed by parquet).
  */
object RecordStatus {
  val Complete = "complete"
  val Invalid = "invalid"
  val Running = "running"
  val Error = "error"
  val Waiting = "waiting"
  val Cancelled = "cancelled"
  val Deleted = "deleted"
  /** Canonical display order (`qcportal/record_models.py:81-100`). */
  val ordered: Seq[String] =
    Seq(Complete, Invalid, Running, Error, Waiting, Cancelled, Deleted)
  /** Statuses from which a revert/cancel is legal (SURVEY P10). */
  val cancellable: Set[String] = Set(Waiting, Running, Error)
}

/** ≙ base_record + flattened subtype columns. */
case class Record(
    record_id: Long,
    record_type: String,
    is_service: Boolean,
    status: String,
    manager_name: Option[String],
    created_on: Timestamp,
    modified_on: Timestamp,
    creator_user: Option[String],
    specification_id: Option[Long],
    molecule_id: Option[Long])

/** ≙ the dataset entry × specification matrix (SURVEY §1.1-3). */
case class DatasetEntry(dataset_id: Long, name: String, molecule_id: Long)
case class DatasetSpec(dataset_id: Long, name: String, specification_id: Long)
case class DatasetRecordItem(dataset_id: Long, entry_name: String,
                             specification_name: String, record_id: Long)

/** ≙ task_queue row (SURVEY §1.1-5). */
case class Task(
    task_id: Long,
    record_id: Long,
    available: Boolean,
    compute_tag: String,
    compute_priority: Int,
    sort_date: Timestamp,
    required_programs: Seq[String])

/** ≙ ComputeManagerORM. */
case class Manager(
    name: String,
    status: String,
    compute_tags: Seq[String],
    programs: Seq[String],
    modified_on: Timestamp)

/** Parent→child record edge (≙ RecordDirectChildrenView rows). */
case class RecordEdge(parent_id: Long, child_id: Long)
