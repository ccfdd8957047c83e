"""Seeded input generators for the benchmark workloads.

Every input is a pure function of ``(workload, seed, index)``: numpy's
``default_rng`` draws the values and pyarrow builds the strings with
vectorized kernels, in this one process. The program under test only
ever sees the files written here.

Each writer returns the input's properties (rows, bytes, payload
width, stale share, near-duplicate share, vocabulary skew) so a result
can be read against the data that produced it.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pcsv
import pyarrow.parquet as pq

CHANNELS = ("web", "ios", "android", "tv")
CHANNEL_WEIGHTS = (0.4, 0.25, 0.25, 0.1)
VERSIONS = ("1.0", "1.1", "2.0")  # string max is "2.0" on every channel
N_EVENT_NAMES = 40
EVENT_ZIPF = 1.2
N_PROPS = 60
SPEC_WIDTH = 12  # prop_01 .. prop_12 in the wide spec
EXTRA_KEYS = 3  # unexpected keys per payload set (noise the spec ignores)
KEY_KEEP = 0.75  # chance an expected key is emitted at all
VALUE_MIX = (0.75, 0.15, 0.10)  # value / "" / JSON null for emitted keys

SPEC_COLS = ("channel", "version", "event_name") + tuple(
    f"prop_{j + 1:02d}" for j in range(SPEC_WIDTH)
)
SPEC_SCHEMA = ", ".join(f"{c} string" for c in SPEC_COLS)

VOCAB = 5000
VOCAB_ZIPF = 1.1
EMB_DIM = 32


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def zipf_probs(n: int, a: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** a
    return w / w.sum()


def _names(prefix: str, n: int) -> np.ndarray:
    return np.array([f"{prefix}{i:02d}" for i in range(n)], dtype=object)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# ---------------------------------------------------------------------------
# conformance: wide spec + three-payload events
# ---------------------------------------------------------------------------


def conformance_spec(seed: int) -> np.ndarray:
    """Expected-prop table ``[channel, version, event, slot]`` of prop
    indices, -1 where the spec cell is blank. Every (channel, version,
    event) row lists 3..SPEC_WIDTH distinct props."""
    rng = rng_for(seed, 1)
    shape = (len(CHANNELS), len(VERSIONS), N_EVENT_NAMES)
    table = np.full(shape + (SPEC_WIDTH,), -1, dtype=np.int64)
    widths = rng.integers(3, SPEC_WIDTH + 1, size=shape)
    # distinct props per row: argsort of random keys, first `width` kept
    order = np.argsort(rng.random(shape + (N_PROPS,)), axis=-1)[..., :SPEC_WIDTH]
    slot = np.arange(SPEC_WIDTH)
    table[...] = np.where(slot < widths[..., None], order, -1)
    return table


def write_spec_csv(table: np.ndarray, path: str) -> dict:
    props = _names("p_", N_PROPS)
    c, v, e = np.meshgrid(
        np.arange(len(CHANNELS)), np.arange(len(VERSIONS)),
        np.arange(N_EVENT_NAMES), indexing="ij",
    )
    cols = {
        "channel": np.array(CHANNELS, dtype=object)[c.ravel()],
        "version": np.array(VERSIONS, dtype=object)[v.ravel()],
        "event_name": _names("evt_", N_EVENT_NAMES)[e.ravel()],
    }
    flat = table.reshape(-1, SPEC_WIDTH)
    for j in range(SPEC_WIDTH):
        idx = flat[:, j]
        cols[f"prop_{j + 1:02d}"] = pa.array(
            np.where(idx >= 0, props[np.maximum(idx, 0)], None), pa.string()
        )
    tbl = pa.table(cols)
    pcsv.write_csv(tbl, path)
    return {"spec_rows": tbl.num_rows, "spec_width": SPEC_WIDTH,
            "spec_pairs": int((table >= 0).sum())}


def _payload(fragments: list[pa.Array]) -> pa.Array:
    """``{frag,frag,...}`` from ``,"key":value`` fragments (``""`` where a
    row omits the key) — one JSON object per row built with
    element-wise string kernels."""
    body = pc.binary_join_element_wise(*fragments, "")
    body = pc.replace_substring_regex(body, "^,", "")
    return pc.binary_join_element_wise("{", body, "}", "")


def conformance_events(seed: int, stream: int, n_rows: int,
                       spec: np.ndarray, stale_share: float) -> pa.Table:
    """``n_rows`` events with the reference's three JSON payloads.

    - channel by fixed weights; event name Zipf(EVENT_ZIPF);
    - ``context.app.version`` is the channel's latest spec version, or a
      stale one on ``stale_share`` of rows (those rows match no spec row);
    - each expected prop of the row's (channel, latest, event) spec row
      is emitted with probability KEY_KEEP into one of the three
      payloads, as a value, ``""`` or JSON null (VALUE_MIX);
    - EXTRA_KEYS keys that no spec names land in random payloads.
    """
    rng = rng_for(seed, 2, stream)
    props = pa.array(_names("p_", N_PROPS), pa.string())
    noise = [pa.array(_names(f"x{k}_", 10), pa.string()) for k in range(EXTRA_KEYS)]
    ch = rng.choice(len(CHANNELS), size=n_rows, p=CHANNEL_WEIGHTS)
    ev = rng.choice(N_EVENT_NAMES, size=n_rows, p=zipf_probs(N_EVENT_NAMES, EVENT_ZIPF))
    latest = len(VERSIONS) - 1
    stale = rng.random(n_rows) < stale_share
    ver = np.where(stale, rng.integers(0, latest, size=n_rows), latest)

    frags: list[list[pa.Array]] = [[], [], []]
    version_str = pa.array(np.array(VERSIONS, dtype=object)[ver], pa.string())
    frags[0].append(pc.binary_join_element_wise(
        ',"app":{"version":"', version_str, '"}', ""))
    expected = spec[ch, latest, ev]  # [n_rows, SPEC_WIDTH]
    for j in range(SPEC_WIDTH + EXTRA_KEYS):
        if j < SPEC_WIDTH:
            key_idx = expected[:, j]
            emit = (key_idx >= 0) & (rng.random(n_rows) < KEY_KEEP)
        else:  # noise keys: never in any spec, one name space per slot
            key_idx = rng.integers(0, 10, size=n_rows)
            emit = rng.random(n_rows) < 0.5
        kind = rng.choice(3, size=n_rows, p=VALUE_MIX)
        num = pa.array(rng.integers(0, 1000, size=n_rows)).cast(pa.string())
        names = props if j < SPEC_WIDTH else noise[j - SPEC_WIDTH]
        key = names.take(pa.array(np.maximum(key_idx, 0)))
        value = pc.if_else(
            pa.array(kind == 0),
            pc.binary_join_element_wise('"v', num, '"', ""),
            pc.if_else(pa.array(kind == 1), pa.scalar('""'), pa.scalar("null")),
        )
        frag = pc.binary_join_element_wise(',"', key, '":', value, "")
        frag = pc.if_else(pa.array(emit), frag, pa.scalar(""))
        # one payload per slot per row: keys are distinct within a row,
        # so no payload ever carries a duplicate key
        target = rng.integers(0, 3, size=n_rows)
        for p in range(3):
            mask = pa.array(target == p)
            frags[p].append(pc.if_else(mask, frag, pa.scalar("")))
    return pa.table({
        "client_name": pa.array(np.array(CHANNELS, dtype=object)[ch], pa.string()),
        "event_name": pa.array(_names("evt_", N_EVENT_NAMES)[ev], pa.string()),
        "user_id": pa.array(rng.integers(0, 50_000, size=n_rows)).cast(pa.string()),
        "context": _payload(frags[0]),
        "traits": _payload(frags[1]),
        "properties": _payload(frags[2]),
    })


def write_events(tbl: pa.Table, path: str, n_files: int) -> None:
    """``n_files`` parquet part files of consecutive row ranges."""
    os.makedirs(path, exist_ok=True)
    step = -(-tbl.num_rows // n_files)
    for f in range(n_files):
        pq.write_table(tbl.slice(f * step, step),
                       os.path.join(path, f"part-{f:03d}.parquet"))


def event_properties(tbl: pa.Table, path: str, stale_share: float) -> dict:
    width = sum(pc.sum(pc.utf8_length(tbl[c])).as_py()
                for c in ("context", "traits", "properties"))
    return {
        "rows": tbl.num_rows,
        "bytes": _dir_bytes(path),
        "payload_chars_per_row": round(width / max(tbl.num_rows, 1), 1),
        "stale_share": stale_share,
        "event_zipf": EVENT_ZIPF,
    }


# ---------------------------------------------------------------------------
# corpus: documents with planted near-duplicates + aligned embeddings
# ---------------------------------------------------------------------------


def vocabulary(seed: int) -> pa.Array:
    """VOCAB distinct lowercase pseudo-words of 2..9 letters."""
    rng = rng_for(seed, 3)
    lens = rng.integers(2, 10, size=VOCAB * 2)
    letters = rng.integers(0, 26, size=int(lens.sum())).astype(np.uint8) + ord("a")
    offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
    words = pa.StringArray.from_buffers(
        len(lens), pa.py_buffer(offsets), pa.py_buffer(letters.tobytes()))
    uniq = pc.unique(words)
    if len(uniq) < VOCAB:  # pragma: no cover - 2*VOCAB draws over 26^2..26^9
        raise RuntimeError("vocabulary draw produced too few distinct words")
    return uniq.slice(0, VOCAB)


def documents(seed: int, stream: int, n_docs: int, mean_words: int,
              dup_share: float) -> tuple[pa.Table, np.ndarray]:
    """Documents of Zipf(VOCAB_ZIPF) words with lognormal lengths.

    ``dup_share`` of the documents are planted near-duplicates: a copy
    of an earlier original with each word replaced with probability
    0.1. Returns the table and, per document, the index of its original
    (-1 for originals).
    """
    rng = rng_for(seed, 4, stream)
    words = vocabulary(seed)
    lens = np.maximum(
        5, rng.lognormal(np.log(mean_words) - 0.125, 0.5, size=n_docs)
    ).astype(np.int64)
    src = np.full(n_docs, -1, dtype=np.int64)
    is_dup = rng.random(n_docs) < dup_share
    is_dup[0] = False
    dup_idx = np.flatnonzero(is_dup)
    originals = np.flatnonzero(~is_dup)
    # each duplicate copies an original that precedes it
    pick = (rng.random(len(dup_idx)) * np.searchsorted(originals, dup_idx)).astype(np.int64)
    src[dup_idx] = originals[pick]
    lens[dup_idx] = lens[src[dup_idx]]
    offsets = np.concatenate([[0], np.cumsum(lens)])
    tok = rng.choice(VOCAB, size=int(offsets[-1]), p=zipf_probs(VOCAB, VOCAB_ZIPF))
    if len(dup_idx):
        doc_of = np.repeat(dup_idx, lens[dup_idx])
        starts = np.cumsum(lens[dup_idx]) - lens[dup_idx]
        within = np.arange(len(doc_of)) - np.repeat(starts, lens[dup_idx])
        pos = offsets[doc_of] + within
        copied = tok[offsets[src[doc_of]] + within]
        keep = rng.random(len(doc_of)) >= 0.1
        tok[pos] = np.where(keep, copied, tok[pos])
    lists = pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32)),
                                     words.take(pa.array(tok)))
    text = pc.binary_join(lists, " ")
    langs = np.array(["en", "de", "fr", "es", "zh"], dtype=object)
    tbl = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": text,
        "lang": pa.array(langs[rng.integers(0, len(langs), size=n_docs)], pa.string()),
        "source": pa.array(np.array([f"src{i % 25}" for i in range(n_docs)], dtype=object),
                           pa.string()),
        "n_chars": pc.utf8_length(text).cast(pa.int64()),
    })
    return tbl, src


def embeddings(seed: int, stream: int, src: np.ndarray) -> pa.Table:
    """EMB_DIM-d float32 vectors around 20 cluster centroids (``label``);
    a planted near-duplicate document gets its original's vector plus
    small noise, so both retrieval arms see the same duplicates."""
    rng = rng_for(seed, 5, stream)
    n = len(src)
    centroids = rng.normal(size=(20, EMB_DIM))
    label = rng.integers(0, 20, size=n)
    vec = centroids[label] + rng.normal(scale=0.6, size=(n, EMB_DIM))
    dup = src >= 0
    label[dup] = label[src[dup]]
    vec[dup] = vec[src[dup]] + rng.normal(scale=0.05, size=(int(dup.sum()), EMB_DIM))
    flat = pa.array(vec.astype(np.float32).ravel())
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array((np.arange(n + 1) * EMB_DIM).astype(np.int32)), flat),
        "label": pa.array(label.astype(np.int32)),
    })


def corpus_properties(tbl: pa.Table, src: np.ndarray, path: str) -> dict:
    n_words = pc.add(pc.count_substring(tbl["text"], " "), 1)
    return {
        "rows": tbl.num_rows,
        "bytes": _dir_bytes(path),
        "mean_words": round(pc.mean(n_words).as_py(), 1),
        "near_dup_share": round(float((src >= 0).mean()), 4),
        "vocab": VOCAB,
        "vocab_zipf": VOCAB_ZIPF,
    }
