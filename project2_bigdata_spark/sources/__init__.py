"""Sources & sinks (SURVEY.md §2.1).

- S1: Mongo-extended-JSON batch ingest with type repair
  (``$oid``/``$date``/``$numberDecimal`` unwrapping, dirty string-or-date
  saleDate) — ``ingest.read_extended_json`` + the oracle-checked
  ``ingest_extended_json_repair`` query.
- S4: CSV report sink — ``ingest.write_report_csv``.
- S6: drop/recreate ≡ ``mode("overwrite")`` — exercised by the sink tests.
- S3's ``allowDiskUse`` and S1's batch-of-50 retry loop need no code at
  all: Spark spills and retries at the task level (SURVEY.md §4.1).
"""
