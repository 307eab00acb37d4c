"""Batch halves of the event-stream operators (SURVEY §2.12).

Only the batch operators the parity registry certifies against DuckDB
live here: `sessions.sessionize_batch` (events_sessionize),
`sessions.session_aggregates` (session_native_aggregates) and
`drift.tv_against_reference` (streaming_drift_scores). No Structured
Streaming query is started by the package.
"""
