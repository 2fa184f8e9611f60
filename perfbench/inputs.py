"""Seeded input generators for the benchmark workloads.

Every input is a pure function of (workload, seed, size): the crawl
corpus is `corpus.page_row(i)` over an id range offset by the seed, the
robots table is `corpus.robots_rows()`, and the journey segment is that
corpus plus planted near-duplicate twin pages and evaluation-set leak
pages, written through
`sources.warc.write_warc` as `.warc.gz` parts with `.cdx` sidecars.

Inputs are built once and cached under the checkout's `.perfbench/cache`
directory keyed by (workload, seed, size); a `_DONE` marker written last
makes a half-built cache entry invisible. Building is never timed."""

from __future__ import annotations

import hashlib
import json
import os
import shutil

from risjbot_spark.corpus import HOSTS, host_lang_for, pathway_for

# ids of one seed never overlap another seed's (sizes stay far below it)
SEED_STRIDE = 1_000_000
PAGES_PARTS = 4

# planted twins: one pair per TWIN_EVERY corpus pages. Each twin page
# carries TWIN_SENTENCES paragraphs of pseudo-words (a vocabulary large
# enough that the quality gate's repetition signals never trip) and a
# closing one-word "Updated." paragraph; its second copy, on the same
# host, drops that paragraph. Word 3-gram Jaccard is then 118/119, far
# above the 0.5 verify threshold, and the 4x6 LSH geometry misses such
# a pair with probability ~1e-5.
TWIN_EVERY = 20
TWIN_SENTENCES = 10
# planted evaluation-set leaks: pages whose pseudo-word text is also in
# the decontamination stage's evaluation set (and shares no 5-gram with
# any other page), so that stage drops exactly these
LEAKS = 2
LEAK_KEY = 10**12
_SYLLABLES = ("ba be bi bo bu da de di do du ka ke ki ko ku la le li lo lu "
              "ma me mi mo mu na ne ni no nu ra re ri ro ru sa se si so su "
              "ta te ti to tu va ve vi vo vu").split()


def id_offset(seed: int) -> int:
    return (seed % 1000) * SEED_STRIDE


def _h(s: str) -> int:
    return int.from_bytes(hashlib.sha256(s.encode()).digest()[:8], "big")


def _word(key: str) -> str:
    h = _h(key)
    n = 2 + h % 3
    return "".join(_SYLLABLES[(h >> (8 * k + 4)) % len(_SYLLABLES)]
                   for k in range(n))


def twin_sentences(pair: int) -> list[str]:
    out = []
    for s in range(TWIN_SENTENCES):
        words = [_word(f"tw:{pair}:{s}:{w}") for w in range(12)]
        out.append(" ".join(words).capitalize() + ".")
    return out


def _page(url: str, pair: int, lang: str, body: list[str]) -> dict:
    """A planted article page whose body paragraphs are `body`."""
    from datetime import timedelta

    from risjbot_spark.corpus import EPOCH

    paras = "".join(f"<p>{s}</p>" for s in body)
    html = (f'<html lang="{lang}"><head><title>Longread {pair} | Site'
            f'</title></head><body><article><div itemprop="articleBody">'
            f"{paras}</div></article></body></html>")
    ts = EPOCH + timedelta(seconds=_h(f"tts:{url}") % (30 * 86400))
    return {"url": url, "warc_ts": ts, "html": html.encode(),
            "text": " ".join(body), "lang": lang}


def twin_rows(pair: int) -> tuple[dict, dict]:
    """Planted near-duplicate pair: the original page and its copy on
    the same host with one paragraph dropped."""
    host, lang = host_lang_for(pair)
    sents = twin_sentences(pair)
    url = f"https://{host}/world/2017/03/longread-{pair}"
    return (_page(url, pair, lang, sents + ["Updated."]),
            _page(url + "-syndicated", pair, lang, sents))


def leak_row(k: int) -> dict:
    """Planted evaluation-set leak: a page whose whole text is
    leak_text(k), which the decontamination stage must drop."""
    host, lang = host_lang_for(k)
    return _page(f"https://{host}/world/2017/03/leak-{k}", k, lang,
                 twin_sentences(LEAK_KEY + k))


def leak_text(k: int) -> str:
    return " ".join(twin_sentences(LEAK_KEY + k))


def shape(ids: range) -> dict:
    """Input-shape statistics of a corpus id range, checked equal (within
    tolerance) across seeds: hot-host share and fake-404 share."""
    hot = HOSTS[0][0]
    n_hot = n404 = 0
    for i in ids:
        h, _ = host_lang_for(i)
        n_hot += h == hot
        n404 += pathway_for(i, h) == "fake404"
    n = max(len(ids), 1)
    return {"pages": len(ids), "hot_host_share": round(n_hot / n, 4),
            "fake404_share": round(n404 / n, 4)}


def fake404_ids(ids: range) -> list[int]:
    return [i for i in ids if pathway_for(i, host_lang_for(i)[0]) == "fake404"]


def _cache_dir(root: str, workload: str, seed: int, size: int) -> str:
    return os.path.join(root, "cache", f"{workload}-s{seed}-n{size}")


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_DONE"))


def cached(root: str, workload: str, seed: int, size: int) -> bool:
    return _done(_cache_dir(root, workload, seed, size))


def _mark_done(path: str, meta: dict) -> None:
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    open(os.path.join(path, "_DONE"), "w").close()


def _pages_arrow_schema():
    import pyarrow as pa

    return pa.schema([("url", pa.string()),
                      ("warc_ts", pa.timestamp("us", tz="UTC")),
                      ("html", pa.binary()), ("text", pa.string()),
                      ("lang", pa.string())])


def _pages_df(spark, rows: list[dict]):
    """Page rows built on the driver (a few hundred: cheaper than a
    Python-worker job) → a PAGES_SCHEMA DataFrame."""
    from risjbot_spark.schema import PAGES_SCHEMA

    return spark.createDataFrame(rows, PAGES_SCHEMA)


def crawl_corpus(root: str, workload: str, seed: int,
                 size: int) -> tuple[str, dict]:
    """Parquet pages table for a crawl workload → (path, meta)."""
    from risjbot_spark.corpus import page_row

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = _cache_dir(root, workload, seed, size)
    if not _done(path):
        shutil.rmtree(path, ignore_errors=True)
        ids = range(id_offset(seed), id_offset(seed) + size)
        rows = [page_row(i) for i in ids]
        # written without Spark (no job on a cold JVM before set-up), in
        # PAGES_PARTS files so the scan keeps local[4]'s parallelism
        os.makedirs(os.path.join(path, "pages"))
        for k in range(PAGES_PARTS):
            pq.write_table(
                pa.Table.from_pylist(rows[k::PAGES_PARTS],
                                     schema=_pages_arrow_schema()),
                os.path.join(path, "pages", f"part-{k:05d}.parquet"))
        _mark_done(path, {"ids": [ids.start, ids.stop], **shape(ids),
                          "fake404": len(fake404_ids(ids))})
    with open(os.path.join(path, "meta.json")) as f:
        return os.path.join(path, "pages"), json.load(f)


def journey_segment(spark, root: str, seed: int,
                    size: int) -> tuple[str, dict]:
    """WARC segment (.warc.gz + .cdx parts) holding `size` corpus pages,
    size // TWIN_EVERY planted twin pairs and LEAKS planted leak pages
    → (dir, meta). The meta lists every pair's two URLs, the leak URLs
    and the evaluation set (the leak texts) of the decontamination
    stage."""
    from pyspark.sql import functions as F

    from risjbot_spark.corpus import page_row
    from risjbot_spark.sources.warc import write_warc

    path = _cache_dir(root, "journey", seed, size)
    if not _done(path):
        shutil.rmtree(path, ignore_errors=True)
        ids = range(id_offset(seed), id_offset(seed) + size)
        pairs = range(ids.start, ids.start + size // TWIN_EVERY)
        leaks = [leak_row(ids.start + k) for k in range(LEAKS)]
        twins = [twin_rows(k) for k in pairs]
        rows = [page_row(i) for i in ids] + leaks + [
            p for pair in twins for p in pair]
        write_warc(_pages_df(spark, rows).select(
            "url", "warc_ts", F.col("html").alias("payload"), "lang"),
            os.path.join(path, "warc"), n_files=8)
        _mark_done(path, {
            "ids": [ids.start, ids.stop], **shape(ids),
            "fake404": len(fake404_ids(ids)), "inputs": len(rows),
            "twins": [[a["url"], b["url"]] for a, b in twins],
            "leaks": [r["url"] for r in leaks],
            "eval_texts": [leak_text(ids.start + k) for k in range(LEAKS)]})
    with open(os.path.join(path, "meta.json")) as f:
        return os.path.join(path, "warc"), json.load(f)
