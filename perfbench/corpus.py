"""Seeded, distinct-document corpora for the benchmark, cached on disk.

A corpus is a list of *slices*.  Each slice is a directory of parquet
files in the pages-table schema (url, warc_ts, html, text, lang) and is
read by exactly one timed Spark action, so no document is ever read
twice in a run.  A separate warm-up slice is read by the untimed
warm-up action.

Documents come from ``sources.pages.generate_pages``, called once per
*chunk* with a seed derived from the workload seed and the chunk index.
Chunks are generated in parallel worker processes before Spark starts.
``generate_pages`` numbers its urls from 0 in every call, so the chunk
index is written into the url path to keep every url distinct.

Goldens are the generator's by-construction expectations, stored per
url as the CRC32 of (extracted_text, amount, date, error) in the same
encoding the Spark-side checksum uses (``golden_crc`` / ``crc_column``).

The cache key is the kind, seed and size plus a content hash of
``sources/pages.py`` and of this file: editing the generator or the
corpus layout can never serve a stale corpus.
"""

from __future__ import annotations

import hashlib
import json
import math
import multiprocessing
import os
import shutil
import zlib
from dataclasses import dataclass
from pathlib import Path

# Field order and null marker shared by the Python and Spark checksums.
GOLDEN_FIELDS = ("extracted_text", "amount", "date", "error")
SEP = "\x1f"
NULL = "\x00"

# Pages generated per chunk.  Receipt documents are ~9% of the default
# mix, so the receipt kind generates ten times as many pages per chunk
# to land at a similar number of documents.
CHUNK_PAGES = {"web": 1500, "receipt": 15000}
# Expected documents per chunk (used only to size a corpus).
CHUNK_DOCS = {"web": 1500, "receipt": 1400}
# Per-slot throughput ceilings (docs/s) that size a corpus.  Measured at
# local[2] on a 4-core x86 VM: web ~1100-1300, receipt ~1150-1600
# docs/s per slot.  Receipt pages are costly to generate, so that
# ceiling is tight; a run that exhausts its slices ends its measurement
# early and says so.
CAP_DOCS_PER_S_PER_SLOT = {"web": 2600, "receipt": 1500}
# Corpora kept in the cache directory; older ones are evicted.
KEEP_CORPORA = 6


def golden_crc(values) -> int:
    """CRC32 of one document's (extracted_text, amount, date, error)."""
    joined = SEP.join(NULL if v is None else v for v in values)
    return zlib.crc32(joined.encode("utf-8"))


def crc_column():
    """The Spark expression computing ``golden_crc`` from output columns."""
    from pyspark.sql import functions as F

    return F.crc32(
        F.concat_ws(SEP, *[F.coalesce(F.col(c), F.lit(NULL)) for c in GOLDEN_FIELDS])
    ).alias("crc")


def _is_receipt(html: bytes, text) -> bool:
    """The reference receipt scanner's own inputs: PDFs and image rows
    carrying upstream OCR text."""
    return html[:5] == b"%PDF-" or text is not None


def _gen_chunk(args) -> dict:
    """Generate one chunk and write its parquet file(s).  Runs in a
    worker process."""
    kind, chunk_seed, chunk_id, out_files = args
    import pyarrow as pa
    import pyarrow.parquet as pq

    from receipt_scanner_spark.sources.pages import generate_pages

    pages, goldens = generate_pages(n_rows=CHUNK_PAGES[kind], seed=chunk_seed)
    tag = f"/c{chunk_id:05d}/receipts/"
    pages["url"] = pages["url"].str.replace("/receipts/", tag, regex=False)
    goldens["url"] = goldens["url"].str.replace("/receipts/", tag, regex=False)
    if kind == "receipt":
        keep = [_is_receipt(h, t) for h, t in zip(pages["html"], pages["text"])]
        pages, goldens = pages[keep], goldens[keep]

    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    n = len(pages)
    per = math.ceil(n / len(out_files))
    for i, path in enumerate(out_files):
        part = pages.iloc[i * per : (i + 1) * per]
        table = pa.Table.from_pandas(part, schema=schema, preserve_index=False)
        pq.write_table(table, path)

    def none(v):
        return None if v is None or v != v else v  # NaN -> None

    crcs = {
        row[0]: golden_crc([none(v) for v in row[1:]])
        for row in goldens[["url", *GOLDEN_FIELDS]].itertuples(index=False)
    }
    content = [
        hashlib.blake2b(bytes(h) + b"\x00" + (t or "").encode(), digest_size=12).hexdigest()
        for h, t in zip(pages["html"], pages["text"])
    ]
    return {"crcs": crcs, "content": content}


@dataclass
class Corpus:
    key: str
    warmup: Path
    slices: list[Path]
    goldens: dict[str, dict[str, int]]  # slice dir name -> {url: crc}
    dup_content_share: float
    generated: bool  # False when served from the cache

    def golden(self, slice_dir: Path) -> dict[str, int]:
        return self.goldens[slice_dir.name]


def _source_hash(root: Path) -> str:
    h = hashlib.sha256()
    for p in (root / "receipt_scanner_spark" / "sources" / "pages.py", Path(__file__)):
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def _load(cdir: Path, key: str, generated: bool) -> Corpus:
    meta = json.loads((cdir / "meta.json").read_text())
    goldens = json.loads((cdir / "goldens.json").read_text())
    return Corpus(
        key=key,
        warmup=cdir / "warmup",
        slices=[cdir / s for s in meta["slices"]],
        goldens=goldens,
        dup_content_share=meta["dup_content_share"],
        generated=generated,
    )


def _evict(cache: Path, keep: str) -> None:
    olds = sorted(
        (d for d in cache.iterdir() if d.is_dir() and d.name != keep),
        key=lambda d: d.stat().st_mtime,
        reverse=True,
    )
    for d in olds[KEEP_CORPORA - 1 :]:
        shutil.rmtree(d, ignore_errors=True)


def n_slices_for(kind: str, seconds: float, k: int) -> int:
    """Slices enough for ``seconds`` of passes at the throughput ceiling."""
    per_slice = CHUNK_DOCS[kind] * files_per_slice(k)
    return math.ceil(seconds * CAP_DOCS_PER_S_PER_SLOT[kind] * k / per_slice) + 1


def files_per_slice(k: int) -> int:
    """Parquet files (one chunk each) per slice: two per task slot, so a
    pass splits into k evenly sized tasks."""
    return max(4, 2 * k)


def build(root: Path, work: Path, kind: str, seed: int, n_slices: int,
          k: int, procs: int) -> Corpus:
    """Return the (cached or freshly generated) corpus."""
    fps = files_per_slice(k)
    key = f"{kind}-seed{seed}-s{n_slices}x{fps}-{_source_hash(root)}"
    cache = work / "corpus"
    cdir = cache / key
    if (cdir / "meta.json").is_file():
        os.utime(cdir)
        return _load(cdir, key, generated=False)

    tmp = cache / f".{key}.{os.getpid()}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    # chunk 0 is the warm-up slice, split into one file per task slot so
    # the warm-up action forks every Python worker; chunks 1.. are the
    # timed slices, one file per chunk
    jobs = [(kind, seed * 1_000_003, 0,
             [str(tmp / "warmup" / f"part-{i:03d}.parquet") for i in range(max(2, k))])]
    slice_names = [f"slice-{s:04d}" for s in range(n_slices)]
    for s, name in enumerate(slice_names):
        for f in range(fps):
            cid = 1 + s * fps + f
            jobs.append((kind, seed * 1_000_003 + cid, cid,
                         [str(tmp / name / f"part-{f:03d}.parquet")]))
    for d in ["warmup", *slice_names]:
        (tmp / d).mkdir(parents=True)

    # fork, not spawn: a spawn pool starts a resource-tracker process that
    # lives until this process exits.  Nothing has started a thread yet.
    ctx = multiprocessing.get_context("fork")
    with ctx.Pool(processes=procs) as pool:
        results = pool.map(_gen_chunk, jobs, chunksize=1)
        pool.close()
        pool.join()

    goldens: dict[str, dict[str, int]] = {"warmup": results[0]["crcs"]}
    for s, name in enumerate(slice_names):
        merged: dict[str, int] = {}
        for r in results[1 + s * fps : 1 + (s + 1) * fps]:
            merged.update(r["crcs"])
        goldens[name] = merged
    content = [c for r in results for c in r["content"]]
    meta = {
        "kind": kind,
        "seed": seed,
        "slices": slice_names,
        "dup_content_share": 1 - len(set(content)) / len(content),
    }
    (tmp / "goldens.json").write_text(json.dumps(goldens))
    (tmp / "meta.json").write_text(json.dumps(meta))
    shutil.rmtree(cdir, ignore_errors=True)
    os.replace(tmp, cdir)
    _evict(cache, key)
    return _load(cdir, key, generated=True)
