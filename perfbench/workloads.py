"""The workloads. Each drives the engine's public entry points (``cli.main``,
``corpus_config``, ``operators.*``) over generated files, one pass at a
time, and checks the pass's output against the generator's truth.

A pass is a list of steps; each step runs under the layer that owns it,
so a traced run can attribute jobs a step submits outside any wrapped
layer call.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
import shutil

import gen

CATALOG_WORKS = 1500
CRAWL_FAMILIES = 300


def canon(v) -> str:
    """Value canonicalization of ``tools/verify_oracle.canon``."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def table_hash(cols, rows) -> str:
    """Order-insensitive digest of ``tools/verify_oracle.table_hash``."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def parquet_rows(path: str, cols: list[str]) -> list[tuple]:
    """Rows of a Spark parquet output directory, read without Spark."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=cols)
    return list(zip(*(t.column(c).to_pylist() for c in cols)))


def json_ids(path: str) -> list[str]:
    """``id`` of every document in a Spark JSON-lines output directory."""
    ids = []
    for name in sorted(os.listdir(path)):
        if name.startswith("part-"):
            with open(os.path.join(path, name)) as fh:
                ids += [json.loads(line)["id"] for line in fh if line.strip()]
    return ids


class Checks:
    """Named output checks; a failed check counts as a failed operation."""

    def __init__(self):
        self.results: list[tuple[str, bool]] = []

    def check(self, name: str, ok: bool) -> None:
        self.results.append((name, bool(ok)))

    @property
    def failed(self) -> list[str]:
        return [n for n, ok in self.results if not ok]


class CatalogFull:
    """import per source -> deduplicate -> update-index per source: the
    reference's nightly batch over a multi-source MARCXML catalogue. The
    index run selects records by ``--from-date`` (set before the pass), so
    the watermark filter of ``operators.incremental`` is on the path."""

    name = "catalog_full"

    def prepare(self, work: str, seed: int) -> None:
        self.cat_dir, self.truth = gen.cached(
            os.path.join(work, "inputs"), "catalog", seed, CATALOG_WORKS,
            gen.make_catalog,
        )
        self.conf = os.path.join(work, "conf")
        os.makedirs(os.path.join(self.conf, "mappings"), exist_ok=True)
        self.ini = os.path.join(self.conf, "datasources.ini")
        with open(self.ini, "w") as fh:
            for src in gen.SOURCES:
                fh.write(
                    f"[{src}]\ninstitution = Inst_{src}\nformat = marc\n"
                    "recordXPath = //record\n\n"
                )
        self.units = sum(len(v) for v in self.truth["ids"].values())

    def steps(self, out: str, spark):
        from recordmanager_spark import cli

        rec = os.path.join(out, "records")
        since = (
            dt.datetime.now(dt.timezone.utc) - dt.timedelta(hours=1)
        ).strftime("%Y-%m-%dT%H:%M:%S")
        steps = []
        for src in gen.SOURCES:
            steps.append(("sources", f"import {src}", lambda src=src: cli.main([
                "import", "--config", self.ini, "--source", src,
                "--file", os.path.join(self.cat_dir, src), "--records", rec,
                "--id-tag", "controlfield",
            ])))
        steps.append(("operators.dedup", "deduplicate", lambda: cli.main([
            "deduplicate", "--records", rec, "--out", os.path.join(out, "dedup"),
        ])))
        for src in gen.SOURCES:
            steps.append(("sinks.solr", f"update-index {src}", lambda src=src: cli.main([
                "update-index", "--records", rec, "--config", self.ini,
                "--source", src, "--out", os.path.join(out, "solr", src),
                "--mappings", os.path.join(self.conf, "mappings"),
                "--from-date", since,
            ])))
        return steps

    def check(self, out: str, checks: Checks) -> str:
        ids = {i for v in self.truth["ids"].values() for i in v}
        stored = [r[0] for r in parquet_rows(os.path.join(out, "records"), ["_id"])]
        checks.check("every record stored once", len(stored) == len(set(stored)) == len(ids))
        checks.check("stored ids are the generated ids", set(stored) == ids)
        for src in gen.SOURCES:
            docs = json_ids(os.path.join(out, "solr", src))
            checks.check(
                f"index docs of {src} match stored records",
                len(docs) == len(set(docs)) and set(docs) == set(self.truth["ids"][src]),
            )
        rows = parquet_rows(os.path.join(out, "dedup"), ["id", "dedup_id"])
        group = {r[0]: r[1] for r in rows}
        fams = self.truth["families"]
        dup_ok = all(
            group.get(f[0]) is not None and all(group.get(i) == group[f[0]] for i in f)
            for k in gen.DUP_KINDS for f in fams[k]
        )
        checks.check("planted sure-duplicates are grouped", dup_ok)
        planted = {i for k in gen.DUP_KINDS for f in fams[k] for i in f}
        checks.check(
            "planted sure-rejects and singles are not grouped",
            all(group.get(i) is None for i in ids - planted),
        )
        members = {}
        for i, g in group.items():
            if g is not None:
                members.setdefault(g, set()).add(i)
        checks.check(
            "no group spans two planted families",
            sorted(map(sorted, members.values()))
            == sorted(sorted(f) for k in gen.DUP_KINDS for f in fams[k]),
        )
        return table_hash(["id", "dedup_id"], rows)


class CorpusCurate:
    """WARC landing zone -> parquet (the harvest half of ``curate``) ->
    ``curate`` (strip_html, language gate, blocklist, minhash dedup, token
    gate, split) -> a winnow near-duplicate report with the registry's
    parameters. The catalogue layers sit idle."""

    name = "corpus_curate"

    def prepare(self, work: str, seed: int) -> None:
        self.crawl_dir, self.truth = gen.cached(
            os.path.join(work, "inputs"), "crawl", seed, CRAWL_FAMILIES,
            gen.make_crawl,
        )
        conf = os.path.join(work, "conf")
        os.makedirs(conf, exist_ok=True)
        self.ini = os.path.join(conf, "corpus.ini")
        with open(self.ini, "w") as fh:
            fh.write(
                "[corpus:crawl]\nstrip_html = true\nlanguages[] = en\n"
                f"blocklist = {os.path.join(self.crawl_dir, 'blocklist.txt')}\n"
                "dedup = minhash\nmin_tokens = 20\n"
                "split[] = 0.9\nsplit[] = 0.1\nkeep_text = true\n"
            )
        self.units = self.truth["n_docs"]

    def steps(self, out: str, spark):
        from recordmanager_spark import cli, corpus_config
        from recordmanager_spark.operators import text_dedup

        staged = os.path.join(out, "staged")

        def harvest():
            docs = corpus_config.load_corpus_source(
                spark, "warc:" + os.path.join(self.crawl_dir, "segments")
            ).drop("http_headers")
            docs.write.mode("overwrite").parquet(staged)

        def winnow():
            cur = spark.read.parquet(os.path.join(out, "curated"))
            text_dedup.winnow_near_duplicates(
                cur, "doc_id", "text", k=5, w=4, min_shared=30, bucket_cap=1000,
            ).write.mode("overwrite").parquet(os.path.join(out, "winnow"))

        return [
            ("sources", "harvest warc", harvest),
            ("corpus_config", "curate", lambda: cli.main([
                "curate", "--config", self.ini, "--corpus", "crawl",
                "--input", staged, "--out", os.path.join(out, "curated"),
            ])),
            ("operators.text_dedup.winnow", "winnow report", winnow),
        ]

    def check(self, out: str, checks: Checks) -> str:
        kept_rows = parquet_rows(os.path.join(out, "curated"), ["doc_id", "split"])
        kept = {r[0] for r in kept_rows}
        fams = self.truth["families"]
        checks.check("every kept document is kept once", len(kept) == len(kept_rows))
        checks.check(
            "gated documents are dropped",
            not kept & {i for k in ("german", "blocked", "short") for f in fams[k] for i in f},
        )
        checks.check("unique documents are kept", all(f[0] in kept for f in fams["unique"]))
        checks.check(
            "planted exact copies are removed",
            all(kept & set(f) == {min(f)} for f in fams["exact"]),
        )
        checks.check(
            "each near-copy family keeps its first member",
            all(min(f) in kept for f in fams["near"]),
        )
        pairs = parquet_rows(os.path.join(out, "winnow"), ["id_a", "id_b", "shared"])
        found = {(r[0], r[1]) for r in pairs}
        checks.check(
            "winnow reports every surviving near-copy pair",
            all(tuple(sorted(f)) in found for f in fams["near"] if set(f) <= kept),
        )
        return table_hash(["doc_id", "split"], kept_rows) + ":" + table_hash(
            ["id_a", "id_b", "shared"], pairs
        )


WORKLOADS = {w.name: w for w in (CatalogFull, CorpusCurate)}


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
