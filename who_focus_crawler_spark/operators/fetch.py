"""C10+C11 — fetch + extract as one fused vectorized row-transform.

``mapInArrow`` iterator form: one Python worker amortizes setup across
Arrow batches; the page body is synthesized deterministically from the
canonical URL by the same pure function the golden crawler uses
(sources/fixture_web.synth_spans), so span-sequence equality vs the frozen
reference semantics is exact by construction *and* verified row-by-row in
tests (BASELINE.json input_hint). In production the synth call is replaced
by an HTTP fetch + HTML tokenizer with the identical (kind, text,
media_ref, offset) output contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from who_focus_crawler_spark.schemas import SPANS
from who_focus_crawler_spark.sources.fixture_web import WebConfig, synth_spans

FETCHED_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType()),
        T.StructField("batch", T.IntegerType()),
        T.StructField("canon_url", T.StringType()),
        T.StructField("url_hash", T.LongType()),
        T.StructField("host", T.StringType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("seed_id", T.IntegerType()),
        T.StructField("spans", SPANS),
    ]
)

_PASSTHROUGH = ["seq", "batch", "canon_url", "url_hash", "host", "depth", "seed_id"]


def fetch_and_extract(admitted: DataFrame, cfg: WebConfig) -> DataFrame:
    """admitted (sequenced) rows → fetched documents with span sequences.

    Span sequences are list<struct>: a pandas crossing would build every
    span as a Python dict inside an object column and convert it back to
    Arrow. Here they are assembled as ONE Arrow ListArray over a
    StructArray of flat (kind, text, media_ref, offset) columns, so no
    per-span Python dict crosses the boundary (~2× on the fetch stage at
    200k pages). tests/unit/test_fetch_arrow.py pins
    every row against synth_spans."""
    import pyarrow as pa

    def run(batches):
        for batch in batches:
            urls = batch.column(2).to_pylist()  # canon_url (col order below)
            kinds: list[str] = []
            texts: list[str | None] = []
            refs: list[str | None] = []
            offs: list[int] = []
            offsets = [0]
            total = 0
            for u in urls:
                sp = synth_spans(u, cfg)
                for s in sp:
                    kinds.append(s["kind"])
                    texts.append(s["text"])
                    refs.append(s["media_ref"])
                    offs.append(s["offset"])
                total += len(sp)
                offsets.append(total)
            struct = pa.StructArray.from_arrays(
                [
                    pa.array(kinds, pa.string()),
                    pa.array(texts, pa.string()),
                    pa.array(refs, pa.string()),
                    pa.array(offs, pa.int32()),
                ],
                names=["kind", "text", "media_ref", "offset"],
            )
            spans = pa.ListArray.from_arrays(
                pa.array(offsets, pa.int32()), struct
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(i) for i in range(len(_PASSTHROUGH))]
                + [spans],
                names=_PASSTHROUGH + ["spans"],
            )

    return admitted.select(*_PASSTHROUGH).mapInArrow(run, FETCHED_SCHEMA)
