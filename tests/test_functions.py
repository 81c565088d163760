"""Unit tests for F1-F16 extraction/canonicalization (SURVEY §5.1).

Golden cases mirror the reference's own inputs: fnSubmitThisForm unescape
(lien_index_scraper.py:455-467), maxrows junk filter (:540), money
normalization (:100-111), OCR §->$ fixups (ocr_tax_extractor.py:470-471),
scoring weights (:451-462)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gsccca_tax_records_scraper_spark import sitegen
from gsccca_tax_records_scraper_spark.functions import extract, urltools


def test_canonicalize_golden_pairs():
    base = "https://search.gsccca.org/Lien/namesearchresults.asp?seed=1&pg=1"
    cases = [
        # html-escaped relative href (unescape + urljoin)
        ("/Lien/liendetails.asp?county=3&amp;book=2&amp;page=14&amp;id=1013",
         "https://search.gsccca.org/Lien/liendetails.asp?county=3&book=2&page=14&id=1013"),
        # plain relative
        ("/Lien/liendetails.asp?county=3&book=2&page=14&id=1013",
         "https://search.gsccca.org/Lien/liendetails.asp?county=3&book=2&page=14&id=1013"),
        # absolute stays put
        ("https://apps.gsccca.org/Lien/liendetails.asp?id=5",
         "https://apps.gsccca.org/Lien/liendetails.asp?id=5"),
        # whitespace stripped
        ("  /Admin/audit.asp?id=9 ", "https://search.gsccca.org/Admin/audit.asp?id=9"),
    ]
    for raw, want in cases:
        assert urltools.canonicalize(base, raw) == want
    got = urltools.canonicalize_frame(
        pd.Series([base] * len(cases)), pd.Series([c[0] for c in cases])
    )
    assert list(got) == [c[1] for c in cases]


def test_extract_hrefs_order_and_unwrap():
    html = (
        '<a href="javascript:fnSubmitThisForm(\'/Lien/a.asp?id=1\');">x</a>'
        '<a href="/Lien/b.asp?id=2">y</a>'
        '<a href="javascript:void(0)">junk</a>'
        '<a href="javascript:fnSubmitThisForm(\'/Lien/c.asp?id=3&amp;k=1\');">z</a>'
    )
    assert urltools.extract_raw_hrefs(html) == [
        "/Lien/a.asp?id=1",
        "/Lien/b.asp?id=2",
        "/Lien/c.asp?id=3&amp;k=1",
    ]


def test_junk_filter():
    assert urltools.is_junk("https://x/Lien/namesearch.asp?MaxRows=50")
    assert urltools.is_junk("https://x/a?maxrows=5")
    assert not urltools.is_junk("https://x/Lien/liendetails.asp?id=1")


def test_url_id_python_matches_jvm(spark):
    urls = [sitegen.doc_url(n) for n in range(50)]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    jvm = {
        r.url: r.uid
        for r in df.select("url", urltools.url_id_col(F.col("url")).alias("uid")).collect()
    }
    for u in urls:
        assert jvm[u] == urltools.url_id(u)


def test_money_normalization():
    assert extract.normalize_money("$1,234.56") == 1234.56
    assert extract.normalize_money("250,000") == 250000.0
    assert extract.normalize_money("junk") is None


def test_ocr_noise_fixups():
    assert extract.fix_ocr_noise("TOTAL DUE: §1,200.00") == "TOTAL DUE: $1,200.00"
    assert extract.fix_ocr_noise("PAID S500") == "PAID $500"
    assert extract.fix_ocr_noise("PAID S 500") == "PAID $500"  # optional space consumed
    assert extract.fix_ocr_noise("SOUTH ST") == "SOUTH ST"  # S before letter untouched
    assert extract.fix_ocr_noise("US1 HIGHWAY") == "US1 HIGHWAY"  # \bS only (word-initial)


def test_money_scoring_weights_and_topk():
    text = (
        "INTEREST $50.00\n"
        "TAX $75.00\n"
        "TOTAL DUE: $1,000.00\n"
        "RANDOM $2.00\n"
    )
    scored = extract.score_money_candidates(text)
    # TOTAL DUE keyword (12) + TOTAL (10) + DUE (4) + 1.0 bias wins
    assert scored[0][1] == "$1,000.00"
    assert scored[0][0] == pytest.approx(27.0)
    top3 = [raw for _, raw in scored[:3]]
    assert "$2.00" not in top3


def test_money_scoring_fallback_total_without_dollar():
    # mirrors ocr_tax_extractor.py:500-544: no $-amount >= 100 -> bare
    # decimals on TOTAL lines are recovered with a +5.0 boost
    text = "PAID $50.00\nTOTAL LIEN 1,234.50 open\nnoise 77.10\n"
    scored = extract.score_money_candidates(text)
    # fallback candidate: TOTAL LIEN(10) + TOTAL(10) + 5.0 + 1.2345
    assert scored[0] == (pytest.approx(26.234, abs=1e-3), "1,234.50")
    # non-TOTAL bare decimals are NOT recovered
    assert all(raw != "77.10" for _, raw in scored)
    # a big $ amount suppresses the fallback entirely
    scored2 = extract.score_money_candidates("PAID $500.00\nTOTAL 1,234.50\n")
    assert all(raw != "1,234.50" for _, raw in scored2)


def test_parse_detail_single_vs_vectorized_parity():
    urls = [sitegen.doc_url(n) for n in range(0, 400, 7)]
    html = [sitegen.detail_html(u) for u in urls]
    ocr = [sitegen.detail_ocr_text(u) for u in urls]
    frame = extract.parse_detail_frame(
        pd.DataFrame({"url": urls, "html": html, "ocr_text": ocr})
    )
    n_cancelled = 0
    for i, u in enumerate(urls):
        rec = extract.parse_detail(u, html[i], ocr[i])
        assert rec["cancelled"] == bool(frame["cancelled"].iloc[i])
        if rec["cancelled"]:
            n_cancelled += 1
            continue
        for k in ("county", "instrument", "date_filed", "book", "page_no",
                  "description", "amount", "debtors", "claimants", "address"):
            assert rec.get(k, "") == frame[k].iloc[i], (k, u)
        av, fv = rec.get("amount_value"), frame["amount_value"].iloc[i]
        assert (av is None and pd.isna(fv)) or av == pytest.approx(fv)
    assert n_cancelled >= 1  # sample covers the cancellation path


def test_record_spans_shape():
    u = sitegen.doc_url(12)
    html, ocr = sitegen.detail_html(u), sitegen.detail_ocr_text(u)
    rec = extract.parse_detail(u, html, ocr)
    spans = extract.record_spans(rec, ocr, "sha1:abc")
    kinds = [s[0] for s in spans]
    offsets = [s[3] for s in spans]
    assert kinds == ["text", "text", "text", "media", "text"]
    assert offsets == [0, 1, 2, 3, 4]
    media = [s for s in spans if s[0] == "media"][0]
    assert media[1] == "" and media[2] == "sha1:abc"
    for s in spans:
        if s[0] == "text":
            assert s[2] == ""


def test_extract_outlinks_frame_matches_per_row_loop():
    """The vectorized extractall+canonicalize hot path must reproduce the
    per-row extract_raw_hrefs+canonicalize loop exactly — SERP pages
    (js-wrapped, escaped, junk, admin links) and detail pages (related
    links), plus edge rows with no links / empty html."""
    bases, htmls = [], []
    for seed in range(6):
        for page in range(1, sitegen.n_serp_pages(seed) + 1):
            bases.append(sitegen.serp_base_url(seed, page))
            htmls.append(sitegen.serp_html(seed, page))
    for n in range(0, 300, 11):
        u = sitegen.doc_url(n)
        bases.append(u)
        htmls.append(sitegen.detail_html(u))
    bases += ["https://x.org/a", "https://x.org/b"]
    htmls += ["<html>no links</html>", ""]
    # scheme-relative + relative-path + query-only residue shapes
    bases.append("https://x.org/dir/page.asp?a=1")
    htmls.append(
        '<a href="//cdn.x.org/z">1</a><a href="sub/rel.asp?q=2">2</a>'
        '<a href="?only=query">3</a><a href="#frag">4</a>'
        '<a href="  /sp&amp;aced  ">5</a>'
    )
    import pandas as pd

    got = urltools.extract_outlinks_frame(
        pd.Series(bases), pd.Series(htmls)
    ).tolist()
    want = [
        [urltools.canonicalize(b, raw) for raw in urltools.extract_raw_hrefs(h)]
        for b, h in zip(bases, htmls)
    ]
    assert got == want
