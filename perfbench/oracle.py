"""Correctness of one timed iteration against the construction oracle.

``fixtures.expected_sql`` computes in DuckDB what every span of every
document must be, from the flat ``(doc_id, text)`` table alone. A document
fails when its ``(ord, kind, text, media_ref)`` sequence differs from the
oracle's in any row, or is missing from the sink.

A failure is *structural* when it is not only a misread: a span is
missing, extra, out of order or of the wrong kind or media_ref, a text
span's text differs, or a media span was quarantined (NULL text). A
document whose only difference is the recognized text of a media page is a
recognition miss; it fails, but the dataflow that carried it is correct.
Misses are rare (about one line in 1,500); an iteration in which more than
``MISS_GATE`` of the media documents are misread has a broken recognizer,
and counts as a structural failure.
"""

from __future__ import annotations

from dataclasses import dataclass

import duckdb

from kiri_ocr_spark.fixtures import expected_sql

MISS_GATE = 0.05


@dataclass
class Check:
    attempted: int  # documents in the checked input
    failed: int  # documents whose span sequence differs from the oracle
    structural: int  # failed documents that are not only recognition misses
    media_docs: int  # attempted documents with at least one media page
    extracted: int  # documents this iteration wrote (resume: its new parts)
    new_parts: int = 0  # resume: parts this iteration committed
    lineage_ok: bool = True  # resume: one lineage row per new part, no other
    recomputed: int = 0  # resume: committed parts rewritten or re-logged

    @property
    def misses(self) -> int:
        return self.failed - self.structural

    @property
    def recognizer_broken(self) -> bool:
        return self.misses > MISS_GATE * self.media_docs


def _sink_rows(sink: str, resume: bool, parts: list[int]) -> str:
    if not resume:
        return f"SELECT doc_id, ord, kind, text, media_ref FROM read_parquet('{sink}/*.parquet')"
    return f"""
        SELECT doc_id, s.ord AS ord, s.kind AS kind, s.text AS text,
               s.media_ref AS media_ref
        FROM (SELECT doc_id, unnest(spans) AS s
              FROM read_parquet('{sink}/*/*.parquet', hive_partitioning = 1)
              WHERE part_id IN ({", ".join(map(str, parts)) or "NULL"}))"""


# per document: row count and order-free sums of row hashes over all
# columns (full) and over the structural projection (struct); ``ord`` is in
# every row, so a reordering changes both
_PER_DOC = """
    SELECT doc_id, count(*) AS n,
           sum(hash(ord, kind, text, media_ref)) AS full,
           sum(hash(ord, kind, media_ref,
                    if(kind = 'media', CAST(text IS NULL AS VARCHAR), text))) AS struct
    FROM ({}) GROUP BY doc_id"""


def write_expected(flat: str, out: str) -> None:
    """Evaluate the oracle over the flat table once, at generation time,
    and park its per-document hashes as parquet."""
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{flat}/*.parquet')")
        con.execute(
            f"COPY ({_PER_DOC.format(expected_sql('documents'))}) TO '{out}' (FORMAT PARQUET)"
        )
    finally:
        con.close()


def check(
    expected: list[str],
    sink: str,
    resume: bool = False,
    committed_before: dict | None = None,
    committed_after: dict | None = None,
    ckpt: str | None = None,
) -> Check:
    """Compare a sink with the oracle's per-document hashes (``expected``,
    from ``write_expected``). For a resumed job only the parts this
    iteration committed are compared, against the pending documents'
    hashes; the committed parts it found are only audited: none may be
    rewritten or logged again, and every new part has exactly one lineage
    row."""
    before = committed_before or {}
    after = committed_after or {}
    new_parts = sorted(set(after) - set(before))
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW e AS SELECT * FROM read_parquet({expected})")
        con.execute(f"CREATE VIEW g AS {_PER_DOC.format(_sink_rows(sink, resume, new_parts))}")
        attempted, failed, structural, media_docs, extracted = con.execute(
            """
            SELECT count(e.doc_id),
                   count(*) FILTER (WHERE e.n IS DISTINCT FROM g.n
                                    OR e.full IS DISTINCT FROM g.full),
                   count(*) FILTER (WHERE e.n IS DISTINCT FROM g.n
                                    OR e.struct IS DISTINCT FROM g.struct),
                   count(*) FILTER (WHERE e.doc_id % 3 > 0 OR e.doc_id % 97 = 0),
                   count(g.doc_id)
            FROM e FULL OUTER JOIN g USING (doc_id)
            """
        ).fetchone()
        if not resume:
            return Check(attempted, failed, structural, media_docs, extracted)
        lineage = dict(con.execute(
            f"""SELECT part_id, count(*) FROM read_parquet('{ckpt}/*.parquet')
                GROUP BY part_id"""
        ).fetchall())
        # a committed part is recomputed when its files changed or this
        # run logged lineage for it again
        rewritten = {p for p in before if after.get(p) != before[p]}
        relogged = {p for p in before if lineage.get(p, 0) > 1}
        new_lineage = {p: n for p, n in lineage.items() if p not in before}
        return Check(
            attempted, failed, structural, media_docs, extracted, len(new_parts),
            new_lineage == {p: 1 for p in new_parts}, len(rewritten | relogged),
        )
    finally:
        con.close()
