"""Seeded input generators: a multi-source MARCXML catalogue and a WARC
crawl. Each generator returns the planted truth next to the files it
writes, so the workloads can check the engine's output against it.

The same seed always yields byte-identical files. Generation runs before
any timer starts; ``cached`` keeps one copy per (kind, seed, size).
"""

from __future__ import annotations

import gzip
import json
import os
import random
import shutil
from xml.sax.saxutils import escape

SOURCES = ("lib0", "lib1")
FILES_PER_SOURCE = 3

# Planted family kinds with the FIXTURES.md section 2 rule each exercises.
# "dup" kinds are sure accepts (must be grouped), "rej" kinds sure rejects.
CATALOG_KINDS = (
    ("single", 40),      # one record, nothing to match
    ("isbn_dup", 15),    # shared ISBN: hard accept, even with a year gap
    ("title_dup", 15),   # same title/author/year, pages within 10: accept
    ("year_rej", 10),    # same title/author, publication year differs
    ("pages_rej", 10),   # same title/author/year, page gap > 10
    ("issn_rej", 10),    # same title/author/year/pages, disjoint ISSNs
)
DUP_KINDS = ("isbn_dup", "title_dup")

_CONSONANTS = "bcdfghjklmnprstvz"
_VOWELS = "aeiou"
EN_STOP = ("the", "and", "of", "to", "in", "is", "a", "that", "for", "with")
DE_STOP = ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "auf")
BLOCKED_WORD = "zzblockedword"


def token(n: int, syllables: int = 4) -> str:
    """A pronounceable word unique to ``n`` (bijective for n < 85**k)."""
    out = []
    for _ in range(syllables):
        n, r = divmod(n, len(_CONSONANTS) * len(_VOWELS))
        c, v = divmod(r, len(_VOWELS))
        out.append(_CONSONANTS[c] + _VOWELS[v])
    return "".join(out)


def cached(root: str, kind: str, seed: int, size: int, make) -> tuple[str, dict]:
    """Generate once per (kind, seed, size) under ``root``; later calls
    read the stored truth. A partly written directory is never reused."""
    d = os.path.join(root, f"{kind}-s{seed}-n{size}")
    truth_path = os.path.join(d, "truth.json")
    if not os.path.exists(truth_path):
        shutil.rmtree(d, ignore_errors=True)
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        truth = make(tmp, seed, size)
        with open(os.path.join(tmp, "truth.json"), "w") as f:
            json.dump(truth, f)
        os.rename(tmp, d)
    with open(truth_path) as f:
        return d, json.load(f)


# ---------------------------------------------------------------------------
# MARCXML catalogue
# ---------------------------------------------------------------------------


def _isbn13(n: int) -> str:
    body = "978" + f"{n % 10**9:09d}"
    s = sum(int(ch) * (1 if i % 2 == 0 else 3) for i, ch in enumerate(body))
    return body + str((10 - s % 10) % 10)


def _issn(n: int) -> str:
    body = f"{n % 10**7:07d}"
    s = sum(int(ch) * (8 - i) for i, ch in enumerate(body))
    c = (11 - s % 11) % 11
    return f"{body[:4]}-{body[4:]}{'X' if c == 10 else c}"


def marc_record(local_id: str, rec: dict) -> str:
    """One MARCXML <record>; 001 comes first so ``--id-tag controlfield``
    picks it as the local id."""
    f008 = f"200101s{rec['year']}    fi            000 0 eng d"
    df = []

    def field(tag, ind1, ind2, *subs):
        sf = "".join(
            f'<subfield code="{c}">{escape(v)}</subfield>' for c, v in subs
        )
        df.append(
            f'<datafield tag="{tag}" ind1="{ind1}" ind2="{ind2}">{sf}</datafield>'
        )

    for isbn in rec.get("isbn", ()):
        field("020", " ", " ", ("a", isbn))
    for issn in rec.get("issn", ()):
        field("022", " ", " ", ("a", issn))
    field("100", "1", " ", ("a", rec["author"]))
    field("245", "1", "0", ("a", rec["title"]))
    field("260", " ", " ", ("a", "Helsinki :"), ("b", rec["publisher"]),
          ("c", rec["year"] + "."))
    field("300", " ", " ", ("a", f"{rec['pages']} p."))
    for topic in rec["topics"]:
        field("650", " ", "7", ("a", topic))
    return (
        "<record><leader>00000cam a2200000 i 4500</leader>"
        f'<controlfield tag="001">{local_id}</controlfield>'
        f'<controlfield tag="008">{f008}</controlfield>'
        + "".join(df)
        + "</record>"
    )


def _work(rng: random.Random, w: int) -> dict:
    # the work-unique token leads the title and the author, so title keys
    # of different works never collide
    return {
        "title": f"{token(w).capitalize()} "
        + " ".join(token(rng.randrange(10**6), 3) for _ in range(3)),
        "author": f"{token(w + 7 * 10**6).capitalize()}, "
        f"{token(rng.randrange(10**4), 2).capitalize()}",
        "publisher": token(rng.randrange(500), 2).capitalize() + " Press",
        "year": str(rng.randrange(1950, 2020)),
        "pages": rng.randrange(40, 900),
        "topics": [token(rng.randrange(300), 3) for _ in range(2)],
    }


def catalog_members(rng: random.Random, w: int, kind: str) -> list[dict]:
    """The records of one work family, one per chosen source."""
    base = _work(rng, w)
    srcs = rng.sample(SOURCES, 1 if kind == "single" else 2)
    out = []
    for i, src in enumerate(srcs):
        r = dict(base, topics=list(base["topics"]))
        if kind == "isbn_dup":
            r["isbn"] = [_isbn13(w)]
            if i:
                # different cataloguing: upper-cased title, year one off
                r["title"] = base["title"].upper() + "."
                r["year"] = str(int(base["year"]) + 1)
        elif kind == "title_dup" and i:
            r["pages"] = base["pages"] + rng.randrange(-5, 6)
        elif kind == "year_rej" and i:
            r["year"] = str(int(base["year"]) + 1)
        elif kind == "pages_rej" and i:
            r["pages"] = base["pages"] + 20 + rng.randrange(10)
        elif kind == "issn_rej":
            r["issn"] = [_issn(2 * w + i)]
        out.append({"source": src, "rec": r})
    return out


def make_catalog(out_dir: str, seed: int, n_works: int) -> dict:
    """``n_works`` work families spread over SOURCES, FILES_PER_SOURCE
    MARCXML files each. Truth: ids per source, and the planted families
    (store ids) by kind."""
    rng = random.Random(seed)
    kinds = [k for k, weight in CATALOG_KINDS for _ in range(weight)]
    per_file = {(s, f): [] for s in SOURCES for f in range(FILES_PER_SOURCE)}
    ids = {s: [] for s in SOURCES}
    families = {k: [] for k, _ in CATALOG_KINDS}
    for w in range(n_works):
        kind = kinds[rng.randrange(len(kinds))]
        fam = []
        for m in catalog_members(rng, w, kind):
            src = m["source"]
            local = f"w{w:06d}"
            per_file[(src, w % FILES_PER_SOURCE)].append(marc_record(local, m["rec"]))
            ids[src].append(f"{src}.{local}")
            fam.append(f"{src}.{local}")
        families[kind].append(fam)
    for (src, f), recs in per_file.items():
        os.makedirs(os.path.join(out_dir, src), exist_ok=True)
        with open(os.path.join(out_dir, src, f"part{f}.xml"), "w") as fh:
            fh.write("<collection>\n" + "\n".join(recs) + "\n</collection>\n")
    return {"ids": ids, "families": families, "seed": seed}


# ---------------------------------------------------------------------------
# WARC crawl
# ---------------------------------------------------------------------------

CRAWL_KINDS = (
    ("unique", 60),      # kept
    ("exact", 12),       # 2-3 byte-identical copies: all but the min id go
    ("near", 12),        # a copy with a few words replaced
    ("german", 6),       # language gate drops it
    ("blocked", 5),      # blocklist gate drops it
    ("short", 5),        # token gate drops it
)
SEGMENTS = 8


def _vocabulary(rng: random.Random, n: int = 60000) -> list[str]:
    # random-letter words: unrelated documents share almost no 5-character
    # shingles beyond the stopwords, as in real prose
    letters = "abcdefghijklmnopqrstuvwxyz"
    return ["".join(rng.choice(letters) for _ in range(rng.randrange(3, 10)))
            for _ in range(n)]


def _english(rng: random.Random, vocab: list[str], n_words: int) -> list[str]:
    return [
        EN_STOP[rng.randrange(len(EN_STOP))] if i % 3 == 2
        else vocab[rng.randrange(len(vocab))]
        for i in range(n_words)
    ]


def _warc_response(uri: str, body: str) -> str:
    block = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
    return (
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        f"WARC-Record-ID: <urn:uuid:{uri.rsplit('/', 1)[1]}>\r\n"
        f"WARC-Target-URI: {uri}\r\n"
        "WARC-Date: 2026-01-01T00:00:00Z\r\n"
        "Content-Type: application/http; msgtype=response\r\n"
        f"Content-Length: {len(block.encode('utf-8'))}\r\n\r\n"
        + block
        + "\r\n\r\n"
    )


def _html(words: list[str]) -> str:
    paras = [" ".join(words[i:i + 40]) for i in range(0, len(words), 40)]
    return "<html><body>" + "".join(f"<p>{p}</p>" for p in paras) + "</body></html>"


def make_crawl(out_dir: str, seed: int, n_families: int) -> dict:
    """``n_families`` document families as SEGMENTS WARC files, even ones
    gzip-membered. Truth: the doc ids per family kind."""
    rng = random.Random(seed)
    vocab = _vocabulary(rng)
    kinds = [k for k, weight in CRAWL_KINDS for _ in range(weight)]
    segs = [[] for _ in range(SEGMENTS)]
    families = {k: [] for k, _ in CRAWL_KINDS}
    doc = 0

    def emit(words):
        nonlocal doc
        uri = f"https://crawl.example/d{doc:07d}"
        segs[rng.randrange(SEGMENTS)].append(_warc_response(uri, _html(words)))
        doc += 1
        return uri

    for _ in range(n_families):
        kind = kinds[rng.randrange(len(kinds))]
        n_words = rng.randrange(150, 400)
        words = _english(rng, vocab, n_words)
        if kind == "exact":
            fam = [emit(words) for _ in range(rng.choice((2, 3)))]
        elif kind == "near":
            copy = list(words)
            for j in rng.sample(range(n_words), max(1, n_words // 50)):
                copy[j] = vocab[rng.randrange(len(vocab))]
            fam = [emit(words), emit(copy)]
        elif kind == "german":
            fam = [emit([
                DE_STOP[rng.randrange(len(DE_STOP))] if i % 2 else w
                for i, w in enumerate(words)
            ])]
        elif kind == "blocked":
            fam = [emit(words[:20] + [BLOCKED_WORD] + words[20:])]
        elif kind == "short":
            fam = [emit(words[:3])]
        else:
            fam = [emit(words)]
        families[kind].append(fam)
    seg_dir = os.path.join(out_dir, "segments")
    os.makedirs(seg_dir)
    for i, recs in enumerate(segs):
        if i % 2:
            with open(os.path.join(seg_dir, f"seg{i:02d}.warc.gz"), "wb") as fh:
                fh.write(b"".join(gzip.compress(r.encode(), mtime=0) for r in recs))
        else:
            with open(os.path.join(seg_dir, f"seg{i:02d}.warc"), "w", encoding="utf-8") as fh:
                fh.write("".join(recs))
    with open(os.path.join(out_dir, "blocklist.txt"), "w") as fh:
        fh.write(f"# planted\n{BLOCKED_WORD}\n")
    return {"families": families, "n_docs": doc, "seed": seed}
