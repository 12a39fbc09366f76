"""Span extraction — vectorized Arrow C kernels.

A fetched page is one flat ``payload`` string (segments
``kind\\x01text\\x01media_ref`` joined by ``\\x02`` — sources/synth_web.py;
a production HTML fetcher would emit the same shape from a vectorized
parser). ``extract_spans_arrow`` turns a whole Arrow array of payloads
into the nested span column (``array<struct<kind,text,media_ref,offset>>``,
BASELINE.json input_hint) with pure C kernels — split_pattern,
list_flatten, StructArray/ListArray construction — so the hot path has no
per-row Python and no Python objects at all. It runs INSIDE the fetch
stage's ``mapInArrow`` pass, so payloads never leave the worker.
(SURVEY.md §2.9 X1-X6.)
"""

from __future__ import annotations

from ..sources.synth_web import FIELD, SPANSEP


def extract_spans_arrow(payload):
    """pyarrow StringArray of payloads -> ListArray<struct<kind,text,
    media_ref,offset>> with dense 0-based offsets. Empty payloads
    (failed fetches) yield empty span lists."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if len(payload) == 0:
        return pa.ListArray.from_arrays(
            pa.array([0], type=pa.int32()),
            pa.StructArray.from_arrays(
                [pa.array([], type=pa.string())] * 3 + [pa.array([], type=pa.int32())],
                names=["kind", "text", "media_ref", "offset"],
            ),
        )
    if isinstance(payload, pa.ChunkedArray):
        payload = payload.combine_chunks()
    segs = pc.split_pattern(payload, SPANSEP)
    offsets = segs.offsets.to_numpy(zero_copy_only=False)
    counts = np.diff(offsets)
    nonempty = pc.not_equal(payload, "").to_numpy(zero_copy_only=False)
    nonempty = np.asarray(nonempty, dtype=bool) & (counts > 0)

    flat = pc.list_flatten(segs)
    flat_mask = np.repeat(nonempty, counts)
    parts = pc.split_pattern(flat.filter(pa.array(flat_mask)), FIELD)
    # TOLERANT field access: a segment may carry fewer than 3 fields (the
    # scalar parser pads with "" — (seg.split(FIELD) + ["",""])[:3]); a
    # raw list_element would raise on the short lists, so take the flat
    # values at clipped offsets and blank the absent ones.
    lens = pc.list_value_length(parts).to_numpy(zero_copy_only=False).astype(np.int64)
    starts = np.concatenate([[0], np.cumsum(lens)])[:-1]
    vals = pc.list_flatten(parts)

    def _field(i: int):
        have = lens > i
        idx = np.where(have, starts + i, 0)
        raw = vals.take(pa.array(idx, type=pa.int64()))
        return pc.if_else(pa.array(have), raw, pa.scalar("", type=pa.string()))

    kind = _field(0)
    text = _field(1)
    media = _field(2)

    keep_counts = np.where(nonempty, counts, 0).astype(np.int32)
    new_offsets = np.concatenate([[0], np.cumsum(keep_counts)]).astype(np.int32)
    within = np.arange(int(new_offsets[-1]), dtype=np.int32) - np.repeat(
        new_offsets[:-1], keep_counts
    )
    struct = pa.StructArray.from_arrays(
        [kind, text, media, pa.array(within, type=pa.int32())],
        names=["kind", "text", "media_ref", "offset"],
    )
    return pa.ListArray.from_arrays(pa.array(new_offsets, type=pa.int32()), struct)
