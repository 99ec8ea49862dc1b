"""Workload inputs: volume-matched corpora and their pyref golden checksums.

A corpus is ``ocrspark.corpus.generate_docs(n_docs, corpus_seed,
fat_doc_rate)`` written to parquet.  The corpus seed is derived from the
benchmark's ``--seed``: candidates ``seed * 1000 + k`` (k = 0, 1, ...) are
tried in order and the first whose total span text is within
``VOLUME_TOLERANCE`` of ``text_chars`` is taken.  So every seed gives a
different document mix but the same doc count and, to within the
tolerance, the same text volume: docs/s is then comparable across seeds,
where unmatched corpora of this size differ by 5-8% in volume from seed to
seed (one fat doc more or less moves the typical corpus by ~3%).

The golden is ``ocrspark.corpus.expected_extractions`` (the pyref spec) on
the same corpus seed, reduced to an order-independent checksum over all 11
output columns.  Corpus and golden are cached under ``WORK/cache``, keyed by
seed, doc count, fat-doc rate, volume target and a hash of the generator
and spec sources, so an edit to either invalidates the entry.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import asdict, dataclass

from bootstrap import NPROC, ROOT, WORK

CACHE = WORK / "cache"
CACHE_ENTRIES = 64
# the seed of the corpus every run's cold (set-up) pass runs on
SETUP_SEED = 0
# largest relative distance of a corpus's text volume from its target
VOLUME_TOLERANCE = 0.015


@dataclass(frozen=True)
class CorpusSpec:
    n_docs: int
    fat_doc_rate: float
    text_chars: int


@dataclass(frozen=True)
class Corpus:
    path: str
    corpus_seed: int
    n_docs: int
    n_spans: int
    text_chars: int
    golden: dict


def spec_version() -> str:
    h = hashlib.sha256()
    for name in ("corpus.py", "pyref.py"):
        h.update((ROOT / "ocrspark" / name).read_bytes())
    return h.hexdigest()[:12]


def _volume(seed: int, spec: CorpusSpec) -> tuple[int, int]:
    from ocrspark.corpus import make_doc

    spans = chars = 0
    for i in range(spec.n_docs):
        doc = make_doc(seed, i, spec.fat_doc_rate)[1]
        spans += len(doc)
        chars += sum(len(text) for _, text, _, _ in doc)
    return spans, chars


def corpus_seed(seed: int, spec: CorpusSpec) -> tuple[int, int, int]:
    """First candidate seed whose text volume matches; (seed, spans, chars)."""
    if seed < 0:
        raise ValueError("--seed must be >= 0")
    for k in range(1000):
        cs = seed * 1000 + k
        spans, chars = _volume(cs, spec)
        if abs(chars / spec.text_chars - 1) <= VOLUME_TOLERANCE:
            return cs, spans, chars
    raise RuntimeError(f"no volume-matched corpus for seed {seed}")


def checksum(df, with_docs: bool = False) -> dict:
    """Order-independent checksum of an extractions frame (all 11 columns)."""
    from pyspark.sql import functions as F

    from ocrspark.schema import EXTRACTIONS_SCHEMA

    cols = [F.col(f.name) for f in EXTRACTIONS_SCHEMA.fields]
    aggs = [
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("hsum"),
        F.sum(F.size("spans")).alias("spans"),
    ]
    if with_docs:
        aggs.append(F.countDistinct("doc_id").alias("docs"))
    row = df.agg(*aggs).collect()[0].asDict()
    row["hsum"] = str(row["hsum"])
    return row


def matches(got: dict, golden: dict) -> bool:
    return all(got[k] == golden[k] for k in ("rows", "hsum", "spans"))


def _evict() -> None:
    entries = sorted((p for p in CACHE.iterdir() if p.is_dir()),
                     key=lambda p: p.stat().st_mtime)
    for p in entries[:-CACHE_ENTRIES]:
        shutil.rmtree(p, ignore_errors=True)


def load(spark, seed: int, spec: CorpusSpec) -> Corpus:
    """The corpus and golden for ``seed``, from the cache or built now."""
    from ocrspark.corpus import expected_extractions, generate_docs

    key = (f"s{seed}-n{spec.n_docs}-f{spec.fat_doc_rate}-c{spec.text_chars}"
           f"-{spec_version()}")
    entry = CACHE / key
    meta = entry / "_perfbench.json"
    if meta.is_file():
        os.utime(entry)
        return Corpus(**json.loads(meta.read_text()))

    cs, spans, chars = corpus_seed(seed, spec)
    partitions = 2 * NPROC
    staging = CACHE / f"{key}.staging"
    shutil.rmtree(staging, ignore_errors=True)
    generate_docs(spark, spec.n_docs, seed=cs, fat_doc_rate=spec.fat_doc_rate,
                  partitions=partitions).write.parquet(str(staging))
    golden = checksum(expected_extractions(
        spark, spec.n_docs, seed=cs, fat_doc_rate=spec.fat_doc_rate,
        partitions=partitions), with_docs=True)
    corpus = Corpus(path=str(entry), corpus_seed=cs, n_docs=spec.n_docs,
                    n_spans=spans, text_chars=chars, golden=golden)
    (staging / "_perfbench.json").write_text(json.dumps(asdict(corpus)))
    shutil.rmtree(entry, ignore_errors=True)
    os.replace(staging, entry)
    _evict()
    return corpus
