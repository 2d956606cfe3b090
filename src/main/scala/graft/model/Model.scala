package graft.model

import java.sql.Timestamp

/** Core data model for the transcript-extraction engine.
  *
  * Input schema pinned by BASELINE.json: an Iceberg-style table of
  * multi-turn conversation / agent transcripts. The reference analog is
  * the 13-column `metadata.document_metadata` Postgres table
  * (reference: src/integration-test/.../utils/TestUtils.java:62-79);
  * here the payload is embedded in `text` rather than pointed to by
  * `pdf_link`.
  *
  * @param conv_id  conversation id — partition/shuffle key
  *                 (analog of external_reference_uuid); its last-2-char
  *                 suffix doubles as the case-type code for the
  *                 allow-list dispatch (analog of RIGHT(uuid,2),
  *                 reference PostgresItemReader.java:94)
  * @param turn_idx stable intra-conversation order
  * @param role     producer of the turn (user/assistant/tool…) — enters
  *                 the dispatch predicate like the reference's `type`
  * @param text     the payload: plain text, an HTML document, or a
  *                 PDF byte stream (latin-1 escaped) — sniffed at runtime
  * @param tool     nullable tool name — eligibility filter analog of
  *                 the reference's `status` column
  * @param ts       event time; watermark + date-partition source
  *                 (analog of updated_on)
  */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp
)

/** Output row of the extraction pipeline: cleaned main-content text per
  * (conv_id, turn_idx), plus lineage columns. `payload_kind` is the
  * sniffed type (html|pdf|plain); date parts drive the partitioned
  * output layout (analog of the reference's
  * decs/cs/year=/month=/day= destination keys,
  * DocumentRowMapper.java:46-62).
  */
final case class ExtractedTurn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    tool: String,
    ts: Timestamp,
    payload_kind: String,
    extracted_text: String,
    n_spans: Int,
    payload_bytes: Int,
    source: String,
    year: String,
    month: String,
    day: String
)

/** Per-output-partition lineage/commit row, written by ExtractionJob
  * after each chunk's snapshot commit. Mirrors the reference's per-chunk
  * watermark-commit semantics (TxaKafkaItemWriter.java:52-79): a
  * partition's lineage row only exists once its output is durably
  * committed.
  *
  * @param partition_id output date partition encoded yyyymmdd
  * @param bytes_in     UTF-8 payload bytes read for this partition
  * @param bytes_out    UTF-8 extracted-text bytes written
  */
final case class PartitionLineage(
    run_id: String,
    partition_id: Int,
    rows: Long,
    min_ts: Timestamp,
    max_ts: Timestamp,
    bytes_in: Long,
    bytes_out: Long,
    status: String,
    chunk: Int,
    snapshot_id: String
)
