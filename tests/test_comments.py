"""S8 comment-API chase (liverpoolecho.py:26-190) over an injectable
fake API: bootstrap → contentcontainer uuid → pages of 100 until
more_available=false, with the reference's error semantics (payload
error drops the item; transport error keeps partials + errback note)."""

import json

import pytest
from pyspark.sql import functions as F

from risjbot_spark.comments import (
    BOOTSTRAP_URL,
    bootstrap_site_uuid,
    chase_comments,
    chase_one,
    join_comments,
)

SITE_UUID = "site-uuid-123"
CCID = "cc-uuid-9"


def _page(cid="cont-7", conversations=True):
    conv = "<vf-conversations></vf-conversations>" if conversations else ""
    return (f'<html><head><meta name="vf:container_id" content="{cid}">'
            f"</head><body><article>story</article>{conv}</body></html>")


class FakeApi:
    """Canned URL→response map; records the call sequence."""

    def __init__(self, responses):
        self.responses = responses
        self.calls = []

    def __call__(self, method, url):
        self.calls.append((method, url))
        r = self.responses[url]
        if isinstance(r, Exception):
            raise r
        return r


def _comments(n, start=0):
    return [{"content_uuid": f"u{i}", "content": f"comment {i}"}
            for i in range(start, start + n)]


def _urls(cid="cont-7"):
    cont = (f"https://livecomments.viafoura.co/v4/livecomments/{SITE_UUID}"
            f"/contentcontainer/id?container_id={cid}")
    page = (f"https://livecomments.viafoura.co/v4/livecomments/{SITE_UUID}"
            f"/{CCID}/comments?limit=100")
    return cont, page


def test_bootstrap():
    url = BOOTSTRAP_URL.format(site="www.liverpoolecho.co.uk")
    ok = FakeApi({url: {"http_status": 200,
                        "result": {"settings": {"site_uuid": SITE_UUID}}}})
    assert bootstrap_site_uuid(ok) == SITE_UUID
    bad = FakeApi({url: {"http_status": 503}})
    assert bootstrap_site_uuid(bad) is None
    assert bootstrap_site_uuid(FakeApi({})) is None   # transport error


def test_chase_one_single_page_and_deleted_comment():
    cont, page = _urls()
    comments = _comments(2) + [{"content_uuid": "u-del"}]  # deleted: no content
    api = FakeApi({
        cont: {"content_container_uuid": CCID},
        page: {"contents": comments, "more_available": False},
    })
    raws, texts, note, status = chase_one(_page(), api, SITE_UUID)
    assert status == "ok" and note is None
    assert texts == ["comment 0", "comment 1", ""]      # ":162-166"
    assert [json.loads(r) for r in raws] == comments
    assert api.calls == [("GET", cont), ("GET", page)]


def test_chase_one_paginates_with_starting_from():
    cont, page = _urls()
    first, second = _comments(100), _comments(50, start=100)
    api = FakeApi({
        cont: {"content_container_uuid": CCID},
        page: {"contents": first, "more_available": True},
        page + "&starting_from=u99": {"contents": second,
                                      "more_available": False},
    })
    raws, texts, note, status = chase_one(_page(), api, SITE_UUID)
    assert status == "ok" and len(raws) == 150
    assert api.calls[-1] == ("GET", page + "&starting_from=u99")


def test_chase_one_error_semantics():
    cont, page = _urls()
    # no comments section / no bootstrap
    assert chase_one(_page(conversations=False), FakeApi({}), SITE_UUID) \
        == (None, None, "No comments section", "none")
    assert chase_one(_page(), FakeApi({}), None) \
        == (None, None, "No comments section", "none")
    # bad contentcontainer payload → item dropped (":131-134")
    api = FakeApi({cont: {"error": "nope"}})
    assert chase_one(_page(), api, SITE_UUID) == (None, None, None, "dropped")
    # transport failure mid-pagination → partial + errback note
    api = FakeApi({
        cont: {"content_container_uuid": CCID},
        page: {"contents": _comments(100), "more_available": True},
        page + "&starting_from=u99": RuntimeError("boom"),
    })
    raws, texts, note, status = chase_one(_page(), api, SITE_UUID)
    assert status == "failed" and note == "Failure in comment collection"
    assert len(raws) == 100


def test_chase_comments_spark_and_join(spark):
    cont7, page7 = _urls("cont-7")
    responses = {
        cont7: {"content_container_uuid": CCID},
        page7: {"contents": _comments(2), "more_available": False},
        _urls("cont-drop")[0]: {"error": "nope"},
    }

    # a local closure, not the module-level FakeApi class: executors
    # cannot import the test module, but cloudpickle ships locals by value
    def api(method, url, _r=responses):
        return _r[url]
    pages = spark.createDataFrame(
        [("https://www.liverpoolecho.co.uk/news/a", "www.liverpoolecho.co.uk",
          _page("cont-7").encode()),
         ("https://www.liverpoolecho.co.uk/news/b", "www.liverpoolecho.co.uk",
          _page(conversations=False).encode()),
         ("https://www.liverpoolecho.co.uk/news/c", "www.liverpoolecho.co.uk",
          _page("cont-drop").encode()),
         ("https://other.example.com/x", "other.example.com",
          _page("cont-7").encode())],
        "url_canon string, host string, html binary")
    chased = chase_comments(pages, api, SITE_UUID)
    rows = {r.url_canon: r for r in chased.collect()}
    # host filter: the non-echo page is never chased
    assert set(rows) == {"https://www.liverpoolecho.co.uk/news/a",
                         "https://www.liverpoolecho.co.uk/news/b",
                         "https://www.liverpoolecho.co.uk/news/c"}
    assert rows["https://www.liverpoolecho.co.uk/news/a"].comment_status == "ok"
    assert rows["https://www.liverpoolecho.co.uk/news/b"].comment_status == "none"
    assert rows["https://www.liverpoolecho.co.uk/news/c"].comment_status == "dropped"

    articles = spark.createDataFrame(
        [(u, ["existing note"] if u.endswith("/a") else None, None, None)
         for u in list(rows) + ["https://other.example.com/x"]],
        "url_canon string, notes array<string>, "
        "rawcomments array<string>, comments array<string>")
    out = {r.url_canon: r for r in join_comments(articles, chased).collect()}
    # dropped article is LOST (reference StopIteration semantics)
    assert "https://www.liverpoolecho.co.uk/news/c" not in out
    a = out["https://www.liverpoolecho.co.uk/news/a"]
    assert a.comments == ["comment 0", "comment 1"]
    assert a.notes == ["existing note"]
    b = out["https://www.liverpoolecho.co.uk/news/b"]
    assert b.notes == ["No comments section"] and b.comments is None
    # untouched host passes through unchanged
    assert out["https://other.example.com/x"].comments is None


def test_chase_skips_fake404_pages(spark):
    """The reference's Fake404 middleware raises BEFORE the spider
    callback, so a soft-404 page is never chased: no API request is
    issued and no comments row is emitted (the page isn't an item —
    it re-enters the frontier next round)."""
    cont7, page7 = _urls("cont-7")
    responses = {
        cont7: {"content_container_uuid": CCID},
        page7: {"contents": _comments(1), "more_available": False},
    }
    calls = []

    def api(method, url, _r=responses, _c=calls):
        _c.append(url)
        return _r[url]

    fake404 = ('<html><body><h1>Something has gone wrong</h1>'
               + _page("cont-7") + "</body></html>")
    pages = spark.createDataFrame(
        [("https://www.foxnews.com/politics/ok", "www.foxnews.com",
          _page("cont-7").encode()),
         ("https://www.foxnews.com/politics/gone", "www.foxnews.com",
          fake404.encode())],
        "url_canon string, host string, html binary")
    rows = {r.url_canon: r for r in
            chase_comments(pages, api, SITE_UUID,
                           host_filter="foxnews.com").collect()}
    assert set(rows) == {"https://www.foxnews.com/politics/ok"}
    assert rows["https://www.foxnews.com/politics/ok"].comment_status == "ok"
    # driver-side check that the fake page triggered ZERO API traffic is
    # not possible (calls mutate in the executor) — the absent row plus
    # the ok row's success prove the gate fired per page, not per task


def test_chase_bounds_lying_api():
    """more_available=true forever must terminate at max_pages."""
    cont, page = _urls()
    responses = {cont: {"content_container_uuid": CCID},
                 page: {"contents": _comments(1), "more_available": True}}
    for i in range(30):
        responses[page + f"&starting_from=u{i}"] = {
            "contents": [{"content_uuid": f"u{i + 1}", "content": "x"}],
            "more_available": True}
    api = FakeApi(responses)
    raws, texts, note, status = chase_one(
        _page(), api, SITE_UUID, max_pages=10)
    assert status == "failed" and len(raws) == 10


def test_chase_empty_page_keeps_cursor():
    """REGRESSION: an empty-contents page with more_available=true must
    reuse the PREVIOUS page's cursor on the NEXT request — resetting it
    per-iteration produced '&starting_from=None' (a KeyError here)."""
    cont, page = _urls()
    cursor_url = page + "&starting_from=u99"
    # same URL served twice: first an empty transient page that still
    # says more_available, then the closing page — a per-URL queue
    queue = {
        cont: [{"content_container_uuid": CCID}],
        page: [{"contents": _comments(100), "more_available": True}],
        cursor_url: [{"contents": [], "more_available": True},
                     {"contents": [], "more_available": False}],
    }
    calls = []

    def api(method, url):
        calls.append(url)
        return queue[url].pop(0)

    raws, texts, note, status = chase_one(_page(), api, SITE_UUID)
    assert status == "ok" and len(raws) == 100
    assert calls == [cont, page, cursor_url, cursor_url]


def test_host_filter_dot_boundary(spark):
    """REGRESSION: substring host match chased look-alike domains."""
    from risjbot_spark.comments import chase_comments

    pages = spark.createDataFrame(
        [("https://a/x", "fake-liverpoolecho.co.uk.example.com",
          _page().encode()),
         ("https://b/x", "liverpoolecho.co.uk", _page().encode()),
         ("https://c/x", "www.liverpoolecho.co.uk", _page().encode())],
        "url_canon string, host string, html binary")

    def api(method, url):
        raise RuntimeError("no network")

    got = {r.url_canon for r in
           chase_comments(pages, api, SITE_UUID).collect()}
    assert got == {"https://b/x", "https://c/x"}


def test_container_meta_attribute_order():
    """REGRESSION: <meta content=... name=...> (attributes swapped) must
    still yield the container id — the reference matches by xpath, not
    by a name-before-content regex."""
    cont, page = _urls("cont-9x")
    html = ('<html><head><meta content="cont-9x" name="vf:container_id">'
            "</head><body><vf-conversations></vf-conversations></body></html>")
    api = FakeApi({
        cont: {"content_container_uuid": CCID},
        page: {"contents": _comments(1), "more_available": False},
    })
    raws, texts, note, status = chase_one(html, api, SITE_UUID)
    assert status == "ok" and len(raws) == 1


def test_comments_payload_without_contents_drops_item():
    """A well-formed comments response missing 'contents' drops the item
    (reference parse_comments raises StopIteration on the KeyError)."""
    cont, page = _urls()
    api = FakeApi({
        cont: {"content_container_uuid": CCID},
        page: {"error": "nope"},
    })
    assert chase_one(_page(), api, SITE_UUID) == (None, None, None, "dropped")


def test_chase_dedups_canonical_url_and_tolerates_null_html(spark):
    """Multi-snapshot pages chase once per canonical URL; a null html
    row maps to 'none' instead of crashing the stage."""
    from risjbot_spark.comments import chase_comments

    cont7, page7 = _urls("cont-7")
    responses = {cont7: {"content_container_uuid": CCID},
                 page7: {"contents": _comments(1), "more_available": False}}

    def api(method, url, _r=responses):
        return _r[url]

    pages = spark.createDataFrame(
        [("https://www.liverpoolecho.co.uk/a", "www.liverpoolecho.co.uk",
          _page("cont-7").encode()),
         ("https://www.liverpoolecho.co.uk/a", "www.liverpoolecho.co.uk",
          _page("cont-7").encode()),       # snapshot duplicate
         ("https://www.liverpoolecho.co.uk/nobody",
          "www.liverpoolecho.co.uk", None)],
        "url_canon string, host string, html binary")
    rows = {r.url_canon: r
            for r in chase_comments(pages, api, SITE_UUID).collect()}
    assert len(rows) == 2
    assert rows["https://www.liverpoolecho.co.uk/a"].comment_status == "ok"
    assert rows["https://www.liverpoolecho.co.uk/nobody"].comment_status == "none"


# ---------------------------------------------------------------------------
# Engine/CLI wiring: the chase runs inside a crawl round (r2 verdict #7)
# ---------------------------------------------------------------------------

def test_engine_round_chases_comments_end_to_end(spark, tmp_path):
    """Crawl with a fake viafoura API: committed articles (and JSONL
    rows) carry rawcomments/comments; a bad contentcontainer payload
    DROPS the article from the round (reference StopIteration), so its
    key never upserts seen and is retried next round; off-host pages
    are untouched."""
    import glob
    import os
    from datetime import datetime, timezone

    from risjbot_spark.crawl import CrawlConfig, CrawlEngine
    from risjbot_spark.frontier.state import RefetchConfig

    host = "www.liverpoolecho.co.uk"
    cont_ok, page_ok = _urls("cont-ok")
    cont_bad, _ = _urls("cont-bad")
    def mkhtml(i, cid=None, conv=False):
        meta = (f'<meta name="vf:container_id" content="{cid}">'
                if cid else "")
        conv_el = "<vf-conversations></vf-conversations>" if conv else ""
        return (f"<html><head><title>T {i}</title>{meta}</head>"
                f"<body><article><p>body text {i}</p></article>"
                f"{conv_el}</body></html>").encode()

    rows = [
        # chased OK (2 comments)
        (f"https://{host}/news/with-comments.html",
         mkhtml(0, "cont-ok", True)),
        # bad contentcontainer payload → whole item dropped
        (f"https://{host}/news/dropped.html", mkhtml(1, "cont-bad", True)),
        # no conversations element → article kept, no chase
        (f"https://{host}/news/plain.html", mkhtml(2)),
        # off-host → never filtered into the chase
        ("https://other.example.com/story.html",
         mkhtml(3, "cont-ok", True)),
    ]
    pages = spark.createDataFrame(
        [(u, datetime(2017, 4, 1, tzinfo=timezone.utc), h)
         for u, h in rows],
        "url string, warc_ts timestamp, html binary")
    responses = {
        BOOTSTRAP_URL.format(site=host): {
            "http_status": 200,
            "result": {"settings": {"site_uuid": SITE_UUID}}},
        cont_ok: {"content_container_uuid": CCID},
        page_ok: {"contents": _comments(2), "more_available": False},
        cont_bad: {"error": "nope"},
    }

    # local closure, not the module-level FakeApi: executors cannot
    # import the test module, but cloudpickle ships locals by value
    def api(method, url, _r=responses):
        return _r[url]
    eng = CrawlEngine(
        spark, str(tmp_path / "wh"), pages, None,
        CrawlConfig(refetch=RefetchConfig(), num_partitions=4,
                    comments_host="liverpoolecho.co.uk"),
        comments_api=api,
    )
    assert eng._comments_site_uuid == SITE_UUID          # bootstrap ran
    seeds = pages.select("url").withColumn("priority", F.lit(0))
    eng.run_round(seeds, 0, datetime(2017, 4, 1, tzinfo=timezone.utc))

    arts = {r.url_canon: r for r in eng.articles_table.read().collect()}
    assert f"https://{host}/news/dropped.html" not in arts   # dropped
    chased = arts[f"https://{host}/news/with-comments.html"]
    assert chased.comments == ["comment 0", "comment 1"]
    assert [json.loads(c)["content_uuid"] for c in chased.rawcomments] \
        == ["u0", "u1"]
    plain = arts[f"https://{host}/news/plain.html"]
    assert plain.comments is None
    assert "No comments section" in (plain.notes or [])
    off = arts["https://other.example.com/story.html"]
    assert off.comments is None and not off.notes

    # dropped key never reached seen → retried next round
    seen_urls = {r.url for r in eng.seen().collect()}
    assert f"https://{host}/news/dropped.html" not in seen_urls
    assert f"https://{host}/news/with-comments.html" in seen_urls

    # JSONL rows carry the comments
    out = str(tmp_path / "jsonl")
    eng.export_jsonl(out)
    recs = []
    for f in glob.glob(os.path.join(out, "part-*")):
        with open(f) as fh:
            recs += [json.loads(l) for l in fh if l.strip()]
    by_url = {r.get("url_canon") or r.get("url"): r for r in recs}
    assert by_url[f"https://{host}/news/with-comments.html"]["comments"] \
        == ["comment 0", "comment 1"]


def test_chase_api_called_exactly_once_per_round(spark, tmp_path):
    """The chase issues live API traffic, and run_round evaluates `items`
    with up to two actions (per-partition lineage collect + commit) — in
    live-fetcher deployments a third consumer (the chase branch re-reads
    the fetch stage). Every container/comments request must still be
    issued exactly ONCE per round (run_round persists the chase output
    and materializes it eagerly). The fake API appends each call to a
    shared file so executor-side calls are observable."""
    import os
    from collections import Counter
    from datetime import datetime, timezone

    from risjbot_spark.crawl import CrawlConfig, CrawlEngine
    from risjbot_spark.frontier.state import RefetchConfig

    host = "www.liverpoolecho.co.uk"
    cont_ok, page_ok = _urls("cont-ok")

    def mkhtml(i):
        return (f'<html><head><title>T {i}</title>'
                f'<meta name="vf:container_id" content="cont-ok"></head>'
                f"<body><article><p>body {i}</p></article>"
                f"<vf-conversations></vf-conversations></body></html>"
                ).encode()

    pages = spark.createDataFrame(
        [(f"https://{host}/news/a{i}.html",
          datetime(2017, 4, 1, tzinfo=timezone.utc), mkhtml(i))
         for i in range(4)],
        "url string, warc_ts timestamp, html binary")
    responses = {
        BOOTSTRAP_URL.format(site=host): {
            "http_status": 200,
            "result": {"settings": {"site_uuid": SITE_UUID}}},
        cont_ok: {"content_container_uuid": CCID},
        page_ok: {"contents": _comments(2), "more_available": False},
    }
    log = str(tmp_path / "api_calls.log")

    def api(method, url, _r=responses, _log=log):
        with open(_log, "a") as fh:
            fh.write(url + "\n")
        return _r[url]

    eng = CrawlEngine(
        spark, str(tmp_path / "wh"), pages, None,
        CrawlConfig(refetch=RefetchConfig(), num_partitions=4,
                    comments_host="liverpoolecho.co.uk"),
        comments_api=api,
    )
    seeds = pages.select("url").withColumn("priority", F.lit(0))
    eng.run_round(seeds, 0, datetime(2017, 4, 1, tzinfo=timezone.utc))

    with open(log) as fh:
        calls = Counter(l.strip() for l in fh if l.strip())
    # bootstrap once (driver), and every chase request exactly once per
    # page: 4 pages → 4 container lookups + 4 comment-page GETs. A
    # re-executed chase stage would double (or triple) the latter two.
    assert calls[BOOTSTRAP_URL.format(site=host)] == 1
    assert calls[cont_ok] == 4
    assert calls[page_ok] == 4
    arts = eng.articles_table.read().collect()
    assert all(r.comments == ["comment 0", "comment 1"] for r in arts)


def test_failed_bootstrap_crawls_without_comment_collection(spark, tmp_path):
    """A failed bootstrap means 'crawl without comments'
    (liverpoolecho.py:42-47): the chase stage must not run at all — no
    API traffic beyond the bootstrap attempt, and NO false 'No comments
    section' notes stamped on host articles that do have conversation
    elements."""
    from datetime import datetime, timezone

    from risjbot_spark.crawl import CrawlConfig, CrawlEngine
    from risjbot_spark.frontier.state import RefetchConfig

    host = "www.liverpoolecho.co.uk"
    html = (f'<html><head><title>T</title>'
            f'<meta name="vf:container_id" content="cont-ok"></head>'
            f"<body><article><p>body</p></article>"
            f"<vf-conversations></vf-conversations></body></html>").encode()
    pages = spark.createDataFrame(
        [(f"https://{host}/news/a.html",
          datetime(2017, 4, 1, tzinfo=timezone.utc), html)],
        "url string, warc_ts timestamp, html binary")
    log = str(tmp_path / "api_calls.log")

    def api(method, url, _log=log):
        with open(_log, "a") as fh:
            fh.write(url + "\n")
        return {"http_status": 500}          # bootstrap fails

    eng = CrawlEngine(
        spark, str(tmp_path / "wh"), pages, None,
        CrawlConfig(refetch=RefetchConfig(), num_partitions=2,
                    comments_host="liverpoolecho.co.uk"),
        comments_api=api,
    )
    assert eng._comments_site_uuid is None
    seeds = pages.select("url").withColumn("priority", F.lit(0))
    eng.run_round(seeds, 0, datetime(2017, 4, 1, tzinfo=timezone.utc))
    arts = eng.articles_table.read().collect()
    assert len(arts) == 1                    # article kept, not dropped
    assert arts[0].comments is None
    assert "No comments section" not in (arts[0].notes or [])
    with open(log) as fh:
        calls = [l.strip() for l in fh if l.strip()]
    assert calls == [BOOTSTRAP_URL.format(site=host)]   # bootstrap only


def test_chase_parallelism_bounded_and_paced(spark):
    """ADVICE #1: the chase coalesces to max_parallelism tasks and
    sleeps delay_secs between consecutive chases in a task."""
    rows = [(f"https://www.liverpoolecho.co.uk/n/{i}",
             "www.liverpoolecho.co.uk", _page("cont-7")) for i in range(12)]
    pages = spark.createDataFrame(
        rows, "url_canon string, host string, html string")
    cont, page = _urls()
    responses = {cont: {"content_container_uuid": CCID},
                 page: {"contents": _comments(1),
                        "more_available": False}}

    def api(method, url, _r=responses):
        return _r[url]
    out = chase_comments(pages, api, SITE_UUID, max_parallelism=2,
                         delay_secs=0.0)
    assert out.rdd.getNumPartitions() <= 2
    assert out.count() == 12
    # pacing: 12 chases in one task with delay 0.05 -> >= 11 x 0.05 s of
    # inter-chase sleep (wall-clock lower bound; the sleeps happen in the
    # python worker, so a recording hook can't observe them from here)
    import time as _t
    t0 = _t.monotonic()
    out2 = chase_comments(pages, api, SITE_UUID, max_parallelism=1,
                          delay_secs=0.05)
    assert out2.count() == 12
    assert _t.monotonic() - t0 >= 11 * 0.05
