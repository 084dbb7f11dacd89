"""Generate a LARGE local corpus by tiling the sf0.1 testdata — the
input tools/measure_scaling.py needs to measure the dedup/ANN family
ABOVE the fixed per-query overhead floor (the sf0.001→sf0.01 pair even
has identical row counts, so no exponent is measurable from the driver
testdata alone).

Tiling preserves the WORKLOAD SHAPE while multiplying its size: tile 0
is the sf0.1 data verbatim; every other tile is re-keyed
(id + k·10_000_000) and made content-DISJOINT from all other tiles, so
the duplicate/neighbor structure inside each tile is exactly sf0.1's
and nothing matches across tiles. A 10× corpus is therefore 10
independent sf0.1 workloads flowing through the SAME shuffles — wall
time linear in rows is the correct expectation, and a super-linear
exponent is a real plan defect, not an artifact of tiling identical
rows (which would multiply near-dup groups quadratically and measure
the data generator, not the operator).

- documents: every token in tile k>0 gets a ``t<k>`` prefix — all
  shingle/fingerprint hashes differ from every other tile, while
  per-doc token counts, lengths and within-tile dup groups match
  sf0.1. doc_id-derived fixture columns (splits, synthetic URLs) see
  new ids, which only adds groups, never merges them.
- embeddings: tile k>0 applies a deterministic random ORTHOGONAL
  rotation (seed k; QR of a Gaussian matrix) — an isometry, so every
  within-tile cosine/neighborhood is preserved exactly, while the
  SRP bucket assignments of each tile are genuinely re-mixed.
  (A per-tile global sign flip also preserves geometry but maps whole
  tiles into sign-mirrored SRP buckets — measured: bucket occupancy
  inflates ~×tiles, the bucket_cap guard prunes nearly everything,
  and the 'scaling' measurement collapses instead of growing.)

Usage:
    python3 tools/gen_scale_corpus.py [tiles] [out_dir]
defaults: tiles=10, out_dir=/root/repo/.scale_corpus/x<tiles>
(gitignored; ~15 MB at x10). Writes documents.parquet and
embeddings.parquet only — the scaling queries touch nothing else.
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"
STRIDE = 10_000_000
MEDIA_BASE_N = 256  # rows of the catalog-row media fixture (tile 0)


def gen_documents(out_dir: str, tiles: int) -> int:
    parts = []
    for k in range(tiles):
        if k == 0:
            parts.append(
                f"SELECT doc_id, text, lang, source, n_chars "
                f"FROM '{SRC}/documents.parquet'"
            )
        else:
            # prefix EVERY token: 't<k>' || first token, ' t<k>' glued
            # onto each inner space — token count and dup structure
            # per tile are unchanged, token identity is tile-unique
            parts.append(
                f"SELECT doc_id + {k * STRIDE} AS doc_id, "
                f"CASE WHEN text IS NULL THEN NULL "
                f"ELSE 't{k}' || replace(text, ' ', ' t{k}') END AS text, "
                f"lang, source, "
                f"CAST(length(CASE WHEN text IS NULL THEN NULL "
                f"ELSE 't{k}' || replace(text, ' ', ' t{k}') END) AS BIGINT) "
                f"AS n_chars "
                f"FROM '{SRC}/documents.parquet'"
            )
    q = " UNION ALL ".join(parts)
    con = duckdb.connect()
    con.sql(
        f"COPY ({q}) TO '{out_dir}/documents.parquet' (FORMAT PARQUET)"
    )
    return con.sql(
        f"SELECT count(*) FROM '{out_dir}/documents.parquet'"
    ).fetchone()[0]


def gen_embeddings(out_dir: str, tiles: int) -> int:
    base = pq.read_table(f"{SRC}/embeddings.parquet")
    vec_ids = base.column("vec_id").to_numpy()
    labels = base.column("label").to_numpy()
    embs = np.asarray(base.column("embedding").to_pylist(), dtype=np.float32)
    out_ids, out_vecs, out_labels = [], [], []
    for k in range(tiles):
        if k == 0:
            out_ids.append(vec_ids)
            out_vecs.append(embs)
        else:
            g = np.random.RandomState(k).standard_normal(
                (embs.shape[1], embs.shape[1])
            )
            q, r = np.linalg.qr(g)
            q = q * np.sign(np.diag(r))  # unique QR ⇒ deterministic Q
            out_ids.append(vec_ids + k * STRIDE)
            out_vecs.append((embs @ q).astype(np.float32))
        out_labels.append(labels)
    table = pa.table(
        {
            "vec_id": pa.array(np.concatenate(out_ids), type=pa.int64()),
            "embedding": pa.array(
                [v.tolist() for v in np.concatenate(out_vecs)],
                type=pa.list_(pa.float32()),
            ),
            "label": pa.array(np.concatenate(out_labels), type=pa.int32()),
        }
    )
    pq.write_table(table, f"{out_dir}/embeddings.parquet")
    return table.num_rows


def gen_media(out_dir: str, tiles: int) -> int:
    """Tile the binary media fixture: ``MEDIA_BASE_N × tiles`` rows of
    REAL container payloads (BMP/WAV/AVI), same schema as
    ``multimodal.binary.synthetic_media``. Content derives from
    ``media_id`` alone, so tile k's ids (k·BASE_N..) are automatically
    content-distinct from every other tile while the per-tile
    kind/size mix is identical — the same workload-shape-preserving
    contract as the documents/embeddings tiling. Pure-Python encode +
    one pyarrow write; the SCALING run then measures parquet scan →
    Arrow decode, the path a production binary column takes."""
    from dask_datapipeline_spark.multimodal.binary import (
        AUDIO_RATE,
        VIDEO_FPS,
        _build_payload,
        audio_n_samples,
        image_dims,
        video_dims,
    )

    kinds = ["image", "audio", "video"]
    n = MEDIA_BASE_N * tiles
    ids, payloads, metas = [], [], []
    for mid in range(n):
        kind = kinds[mid % 3]
        if kind == "image":
            w, h = image_dims(mid)
            dur = 0
        elif kind == "audio":
            w = h = 0
            dur = audio_n_samples(mid) * 1000 // AUDIO_RATE
        else:
            w, h, nf = video_dims(mid)
            dur = nf * 1000 // VIDEO_FPS
        ids.append(mid)
        payloads.append(_build_payload(mid, kind))
        metas.append(
            {"kind": kind, "width": w, "height": h, "duration_ms": dur}
        )
    table = pa.table(
        {
            "media_id": pa.array(ids, type=pa.int64()),
            "payload": pa.array(payloads, type=pa.binary()),
            "meta": pa.array(
                metas,
                type=pa.struct(
                    [
                        ("kind", pa.string()),
                        ("width", pa.int32()),
                        ("height", pa.int32()),
                        ("duration_ms", pa.int32()),
                    ]
                ),
            ),
        }
    )
    pq.write_table(table, f"{out_dir}/media.parquet")
    return n


def main() -> None:
    tiles = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out_dir = (
        sys.argv[2]
        if len(sys.argv) > 2
        else f"/root/repo/.scale_corpus/x{tiles}"
    )
    os.makedirs(out_dir, exist_ok=True)
    nd = gen_documents(out_dir, tiles)
    ne = gen_embeddings(out_dir, tiles)
    nm = gen_media(out_dir, tiles)
    print(
        f"{out_dir}: {nd} documents, {ne} embeddings, {nm} media "
        f"({tiles} tiles)"
    )


if __name__ == "__main__":
    main()
