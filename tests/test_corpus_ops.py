"""Unit tests for plans/corpus_ops.py on handmade corpora: PII
redaction actually scrubs, span dedup removes cross-document
boilerplate (first occurrence wins), corpus-frequency scores match
hand-computed exact values."""

from __future__ import annotations

import re

import pyspark.sql.functions as F

from jira_scraper_etl_spark.plans import QUERIES
from jira_scraper_etl_spark.plans.corpus_ops import EMAIL_RE, IPV4_RE


def docs_dir(spark, tmp_path, rows):
    """Write a documents.parquet with the real table's schema."""
    df = spark.createDataFrame(
        [(i, t, "en", f"src{i}", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long")
    d = str(tmp_path / "sf")
    df.write.parquet(f"{d}/documents.parquet")
    return d


def test_pii_redact_scrubs_every_row(spark, tmp_path):
    d = docs_dir(spark, tmp_path, [(i, f"body text {i}") for i in range(5)])
    out = {r.doc_id: r for r in QUERIES["text_pii_redact"].fn(spark, d).collect()}
    assert len(out) == 5
    for r in out.values():
        assert r.n_emails == 1 and r.n_ips == 1
        assert "<EMAIL>" in r.redacted and "<IP>" in r.redacted
        assert not re.search(EMAIL_RE, r.redacted)
        assert not re.search(IPV4_RE, r.redacted)


def test_pii_regexes_on_adversarial_strings(spark):
    cases = [
        ("mail a.b-c_d%e@sub.domain.co now", 1, 0),
        ("ip 192.168.0.1 and 10.0.0.255 twice", 0, 2),
        ("both x@y.io at 8.8.8.8", 1, 1),
        ("neither plain text 1234 nor a.b", 0, 0),
        # \b rejects a leading word char: v→1 is not a boundary, and
        # no 4-group suffix starts on one (verified identical in RE2)
        ("v1.2.3.4 release", 0, 0),
    ]
    df = spark.createDataFrame([(c,) for c, _, _ in cases], "contact string")
    got = df.select(
        F.regexp_count("contact", F.lit(EMAIL_RE)).alias("ne"),
        F.regexp_count("contact", F.lit(IPV4_RE)).alias("ni"),
    ).collect()
    assert [(r.ne, r.ni) for r in got] == [(e, i) for _, e, i in cases]


BOILER = "all rights reserved see license file for details"  # 8 tokens
UNIQ_A = "alpha beta gamma delta epsilon zeta eta theta"     # 8 tokens
UNIQ_B = "one two three four five six seven eight"           # 8 tokens


def test_span_dedup_first_occurrence_wins(spark, tmp_path):
    d = docs_dir(spark, tmp_path, [
        (1, f"{UNIQ_A} {BOILER}"),
        (2, f"{UNIQ_B} {BOILER}"),   # boiler span repeated -> dropped
        (3, BOILER),                 # every span repeated -> doc vanishes
    ])
    out = {r.doc_id: r for r in QUERIES["dedup_span_exact"].fn(spark, d).collect()}
    assert set(out) == {1, 2}
    assert out[1].text_deduped == f"{UNIQ_A} {BOILER}" and out[1].n_kept == 2
    assert out[2].text_deduped == UNIQ_B and out[2].n_kept == 1


def test_span_dedup_reassembles_in_order(spark, tmp_path):
    # 3 spans, middle one stolen by an earlier doc: order must survive
    d = docs_dir(spark, tmp_path, [
        (1, BOILER),
        (2, f"{UNIQ_A} {BOILER} {UNIQ_B}"),
    ])
    out = {r.doc_id: r for r in QUERIES["dedup_span_exact"].fn(spark, d).collect()}
    assert out[2].text_deduped == f"{UNIQ_A} {UNIQ_B}"


def test_corpus_freq_exact_values(spark, tmp_path):
    # ctf: a=2 b=2 c=1
    d = docs_dir(spark, tmp_path, [(1, "a a b"), (2, "b c")])
    out = {r.doc_id: r
           for r in QUERIES["text_corpus_freq_score"].fn(spark, d).collect()}
    assert (out[1].n_toks, out[1].sum_freq, out[1].mean_tok_freq) == (3, 6, 2.0)
    assert (out[2].n_toks, out[2].sum_freq, out[2].mean_tok_freq) == (2, 3, 1.5)


def test_mixture_weights_exact_small_corpus(spark, tmp_path):
    # srcA: 4 tokens -> weight 2.0; srcB: 9 tokens -> weight 3.0
    df = spark.createDataFrame(
        [(1, "a b c d", "en", "srcA", 7),
         (2, "a b c d e f g h i", "en", "srcB", 17)],
        "doc_id long, text string, lang string, source string, n_chars long")
    d = str(tmp_path / "sf")
    df.write.parquet(f"{d}/documents.parquet")
    out = {r.source: r
           for r in QUERIES["sample_mixture_weights"].fn(spark, d).collect()}
    a, b = out["srcA"], out["srcB"]
    assert (a.n_docs, a.n_tokens, a.weight, a.share) == (1, 4, 2.0, 0.4)
    assert (b.n_docs, b.n_tokens, b.weight, b.share) == (1, 9, 3.0, 0.6)


def test_transition_counts_invariant(spark, sf_dir):
    """Every event except each user's last contributes exactly one
    transition: sum(n) == |events| - |users|."""
    out = QUERIES["events_transition_matrix"].fn(spark, sf_dir)
    total = sum(r.n for r in out.collect())
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    assert total == e.count() - e.select("user_id").distinct().count()


def test_session_concurrency_matches_bruteforce(spark, sf_dir):
    """Differential: explode-to-buckets result == Python sweep over the
    session intervals from the (independently oracle-checked)
    session-window query."""
    from collections import Counter
    from datetime import timedelta

    sess = QUERIES["events_session_30m"].fn(spark, sf_dir).collect()
    expected = Counter()
    for r in sess:
        h = r.session_start.replace(minute=0, second=0, microsecond=0)
        last = (r.session_end - timedelta(microseconds=1)).replace(
            minute=0, second=0, microsecond=0)
        while h <= last:
            expected[h] += 1
            h += timedelta(hours=1)
    got = {r.hour: r.n_sessions
           for r in QUERIES["events_session_concurrency"].fn(spark, sf_dir).collect()}
    assert got == dict(expected)


def test_label_centroids_match_numpy(spark, sf_dir):
    """Differential: quantized per-label centroid == numpy mean of the
    quantized vectors, exactly."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
    got = {(r.label, r.dim): (r.n, r.sum_q, r.mean_q)
           for r in QUERIES["embedding_label_centroids"].fn(spark, sf_dir).collect()}
    for label, grp in t.groupby("label"):
        q = np.floor(np.stack(grp["embedding"].to_numpy()).astype("float64") * 1000)
        sums, n = q.sum(axis=0), len(grp)
        for dim in range(q.shape[1]):
            assert got[(label, dim)] == (n, int(sums[dim]), sums[dim] / n)


def test_incremental_novelty_semantics(spark, tmp_path):
    """doc_id buckets (md5 % 100): 1,2,3 -> old corpus; 0,8,14 -> new
    batch. A new exact copy is non-novel both ways; a near-copy (one
    token changed) is exact-novel but not near-novel; gibberish is
    novel both ways."""
    base = "the quick brown fox jumps over the lazy dog and keeps running far"
    near = base.replace("lazy", "sleepy")
    d = docs_dir(spark, tmp_path, [
        (1, base), (2, "completely different old text here"), (3, "more old"),
        (0, base),                     # exact copy of old doc 1
        (8, near),                     # near-dup of old doc 1
        (14, "zxqv jkwp mnbv qwer"),   # novel
    ])
    out = {r.doc_id: (r.exact_novel, r.near_novel)
           for r in QUERIES["dedup_incremental_novel"].fn(spark, d).collect()}
    assert set(out) == {0, 8, 14}
    assert out[0] == (False, False)
    assert out[8] == (True, False)
    assert out[14] == (True, True)


def test_span_dedup_degenerate_corpus(spark, tmp_path):
    """500 identical docs: the election collapses map-side; only the
    lowest doc_id survives with its full text."""
    d = docs_dir(spark, tmp_path, [(i, f"{UNIQ_A} {BOILER}") for i in range(500)])
    out = QUERIES["dedup_span_exact"].fn(spark, d).collect()
    assert len(out) == 1
    assert out[0].doc_id == 0 and out[0].n_kept == 2


def test_bigram_assoc_exact_lift(spark, tmp_path):
    # corpus: 6x "x y" + 1x "x z" -> n=14 tokens, c(x)=7, c(y)=6,
    # c(x,y)=6 -> lift = 6*14/(7*6) = 2.0; (x,z) cab=1 < 5 support
    # floor -> excluded
    d = docs_dir(spark, tmp_path,
                 [(i, "x y") for i in range(6)] + [(7, "x z")])
    out = QUERIES["text_bigram_assoc"].fn(spark, d).collect()
    assert [(r.a, r.b, r.cab, r.lift) for r in out] == [("x", "y", 6, 2.0)]


def test_edit_distance_identical_and_near_docs(spark, tmp_path):
    # ids 1,2 identical -> dist 0, sim 1.0; id 3 one-word edit of 1
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = base.replace("kappa", "kappb")
    d = docs_dir(spark, tmp_path, [(1, base), (2, base), (3, near)])
    out = {(r.doc_a, r.doc_b): (r.edit_dist, r.sim)
           for r in QUERIES["dedup_pairs_edit_distance"].fn(spark, d).collect()}
    assert out[(1, 2)] == (0, 1.0)
    assert out[(1, 3)][0] == 1
    assert abs(out[(1, 3)][1] - (1 - 1 / len(base))) < 1e-12


def test_gapfill_spine_is_dense_and_consistent(spark, sf_dir):
    """The spine has every hour between min and max exactly once and
    the non-zero rows agree with the plain aggregation."""
    from datetime import timedelta

    rows = QUERIES["events_hourly_gapfill"].fn(spark, sf_dir).collect()
    hours = sorted(r.hour for r in rows)
    assert len(hours) == len(set(hours))
    span = int((hours[-1] - hours[0]) / timedelta(hours=1)) + 1
    assert len(hours) == span
    assert sum(r.n for r in rows) == spark.read.parquet(
        f"{sf_dir}/events.parquet").count()


def test_text_dedup_lines_matches_python(spark, sf_dir):
    """Differential: per-doc first-occurrence line dedup recomputed in
    Python over the raw text must match the columnar operator exactly
    (order preserved, blank lines dropped, accounting consistent)."""
    from jira_scraper_etl_spark import plans
    from jira_scraper_etl_spark.catalog import load_table

    out = {r.doc_id: r for r in
           plans.QUERIES["text_dedup_lines"].fn(spark, sf_dir).collect()}
    raw = {r.doc_id: r.text for r in
           load_table(spark, sf_dir, "documents")
           .select("doc_id", "text").collect() if r.text is not None}
    assert set(out) == set(raw)
    for doc_id, text in raw.items():
        lines = [l for l in text.split("\n") if l.strip() != ""]
        seen, kept = set(), []
        for l in lines:
            if l not in seen:
                seen.add(l)
                kept.append(l)
        r = out[doc_id]
        assert r.text_deduped == "\n".join(kept), doc_id
        assert r.n_lines == len(lines) and r.n_removed == len(lines) - len(kept)


def test_chunk_documents_overlap_covers_and_overlaps(spark, sf_dir):
    """Chunk layout invariants: stride-positioned windows cover every
    token of every doc (union of [i*stride, i*stride+window) spans
    [0, len)), consecutive full chunks overlap by window - stride
    tokens, and only the final chunk may be short."""
    from jira_scraper_etl_spark import plans
    from jira_scraper_etl_spark.catalog import load_table
    from jira_scraper_etl_spark.plans.corpus_ops import (CHUNK_STRIDE,
                                                         CHUNK_TOKENS)

    chunks = {}
    for r in plans.QUERIES["chunk_documents_overlap"].fn(spark, sf_dir).collect():
        chunks.setdefault(r.doc_id, []).append((r.chunk_idx, r.chunk, r.n_tokens))
    docs = {r.doc_id: [t for t in r.text.lower().split() if t]
            for r in load_table(spark, sf_dir, "documents")
            .select("doc_id", "text").collect() if r.text}
    docs = {k: v for k, v in docs.items() if v}
    assert set(chunks) == set(docs)
    for doc_id, toks in docs.items():
        got = sorted(chunks[doc_id])
        for i, (idx, chunk, n) in enumerate(got):
            assert idx == i
            want = toks[i * CHUNK_STRIDE: i * CHUNK_STRIDE + CHUNK_TOKENS]
            assert chunk == " ".join(want) and n == len(want), (doc_id, i)
            if i < len(got) - 1:
                assert n == CHUNK_TOKENS  # only the last chunk may be short
        covered = (len(got) - 1) * CHUNK_STRIDE + got[-1][2]
        assert covered == len(toks)


def test_bigram_novelty_bounds_and_python_replay(spark, sf_dir):
    """Novelty invariants plus an independent recompute: unique_types
    <= bigram_types, permille in [0, 1000], one row per document, and
    the whole result matches a pure-Python bigram scan."""
    out = {r.doc_id: r for r in
           QUERIES["text_bigram_novelty"].fn(spark, sf_dir).collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text").collect()
    assert len(out) == len(docs)
    per_doc = {}
    df = {}
    for r in docs:
        toks = [t for t in (r.text or "").lower().split() if t]
        bg = set(zip(toks, toks[1:]))
        per_doc[r.doc_id] = bg
        for b in bg:
            df[b] = df.get(b, 0) + 1
    for r in docs:
        bg = per_doc[r.doc_id]
        o = out[r.doc_id]
        uniq = sum(1 for b in bg if df[b] == 1)
        assert o.n_bigram_types == len(bg)
        assert o.n_unique_types == uniq
        if not bg:
            assert o.novelty_permille is None
        else:
            assert o.novelty_permille == 1000 * uniq // len(bg)
            assert 0 <= o.novelty_permille <= 1000
        assert o.n_unique_types <= o.n_bigram_types


def _py_substring_stats(texts, L=12):
    """Python twin of substring_dup_stats: global window counts, per-doc
    duplicated sites, and the interval-union coverage."""
    from collections import Counter

    toks = {i: [w for w in re.split(r"\s+", t.lower()) if w != ""]
            for i, t in texts.items() if t is not None and t.strip() != ""}
    counts = Counter()
    sites = {}
    for i, tk in toks.items():
        ws = [" ".join(tk[p:p + L]) for p in range(len(tk) - L + 1)]
        sites[i] = ws
        counts.update(ws)
    out = {}
    for i, tk in toks.items():
        dup = sorted(p for p, w in enumerate(sites[i]) if counts[w] >= 2)
        cov, prev = 0, -L
        for s in dup:
            cov += min(L, s - prev)
            prev = s
        out[i] = (len(tk), max(len(tk) - L + 1, 0), len(dup), cov,
                  cov / len(tk))
    return out


def test_substring_dup_stats_matches_python(spark, sf_dir):
    """Differential: the stride-1 window/coverage pipeline recomputed
    brute-force in Python must match every output column exactly."""
    from jira_scraper_etl_spark.catalog import load_table

    texts = {r.doc_id: r.text for r in
             load_table(spark, sf_dir, "documents")
             .select("doc_id", "text").collect()}
    want = _py_substring_stats(texts)
    got = {r.doc_id: r for r in
           QUERIES["dedup_substring_exact"].fn(spark, sf_dir).collect()}
    assert set(got) == set(want)
    n_any_dup = 0
    for i, (n_tok, n_win, n_dup, cov, frac) in want.items():
        r = got[i]
        assert (r.n_tokens, r.n_windows, r.n_dup_sites,
                r.dup_token_cov) == (n_tok, n_win, n_dup, cov), i
        assert abs(r.dup_frac - frac) < 1e-12, i
        n_any_dup += n_dup > 0
    assert n_any_dup > 0  # the corpus must actually exercise the path


def test_substring_dedup_planted_overlap(spark, tmp_path):
    """Crafted corpus: two docs share a 20-token run (=> 9 duplicated
    window sites covering exactly 20 tokens each), one doc repeats a
    12-token phrase internally at disjoint offsets (self-repetition
    counts, as with a suffix array), and a doc shorter than the window
    yields zero windows but still appears."""
    from jira_scraper_etl_spark.plans.corpus_ops import SUBSTR_L

    assert SUBSTR_L == 12  # the planted expectations below assume it
    shared = " ".join(f"s{i}" for i in range(20))
    selfrep = " ".join(f"r{i}" for i in range(12))
    rows = [
        (0, shared + " " + " ".join(f"a{i}" for i in range(10))),
        (1, " ".join(f"b{i}" for i in range(10)) + " " + shared),
        (2, selfrep + " zz " + selfrep),
        (3, "tiny doc under twelve tokens here"),
    ]
    d = docs_dir(spark, tmp_path, rows)
    out = {r.doc_id: r for r in
           QUERIES["dedup_substring_exact"].fn(spark, d).collect()}
    want = _py_substring_stats({i: t for i, t in rows})
    assert len(out) == 4
    for i, (n_tok, n_win, n_dup, cov, frac) in want.items():
        r = out[i]
        assert (r.n_tokens, r.n_windows, r.n_dup_sites,
                r.dup_token_cov) == (n_tok, n_win, n_dup, cov), i
    # the planted numbers themselves (guards the python twin too):
    # doc 0: shared run starts at 0 -> sites 0..8, union = 8 + 12 = 20
    assert (out[0].n_dup_sites, out[0].dup_token_cov) == (9, 20)
    # doc 1: same run starts at 10 -> 9 sites, 20 tokens covered
    assert (out[1].n_dup_sites, out[1].dup_token_cov) == (9, 20)
    # doc 2: the 12-token phrase at offsets 0 and 13 -> 2 sites, 24 cov
    assert (out[2].n_dup_sites, out[2].dup_token_cov) == (2, 24)
    assert (out[3].n_windows, out[3].n_dup_sites) == (0, 0)


def _py_gopher(doc_id, text):
    """Python twin of text_gopher_quality (including the synthesized
    line suffix) computing every metric and the rule verdict."""
    line2 = {0: "- bullet point", 1: "to be continued...",
             2: "## note #tag"}[doc_id % 3]
    line3 = {0: "* item two", 1: "and that is all"}[doc_id % 2]
    g = text + "\n" + line2 + "\n" + line3
    toks = [w for w in re.split(r"\s+", g.lower()) if w != ""]
    n_words = len(toks)
    mean_wl = sum(len(w) for w in toks) / n_words
    n_sym = g.count("#") + len(re.findall(r"\.\.\.", g))
    sym_ratio = n_sym / n_words
    n_alpha = sum(1 for w in toks if re.search(r"[a-z]", w))
    frac_alpha = n_alpha / n_words
    stops = {"the", "be", "to", "of", "and", "that", "have", "with"}
    n_stop = len(stops & set(toks))
    lines = g.split("\n")
    n_lines = len(lines)
    n_bullet = len(re.findall(r"(?m)^[ \t]*[-*•]", g))
    n_ell = len(re.findall(r"\.\.\.(\n|\Z)", g))
    frac_b, frac_e = n_bullet / n_lines, n_ell / n_lines
    fails = ((not 50 <= n_words <= 100000) + (not 3.0 <= mean_wl <= 10.0)
             + (sym_ratio > 0.1) + (frac_b > 0.9) + (frac_e > 0.3)
             + (frac_alpha < 0.8) + (n_stop < 2))
    return (n_words, mean_wl, sym_ratio, frac_alpha, n_stop, frac_b,
            frac_e, fails, fails == 0)


def test_gopher_quality_matches_python(spark, sf_dir):
    """Differential vs the Python twin on the real corpus — every
    metric, the per-rule failure count, and the verdict."""
    from jira_scraper_etl_spark.catalog import load_table

    texts = {r.doc_id: r.text for r in
             load_table(spark, sf_dir, "documents")
             .select("doc_id", "text").collect()
             if r.text is not None and r.text.strip() != ""}
    got = {r.doc_id: r for r in
           QUERIES["text_gopher_quality"].fn(spark, sf_dir).collect()}
    assert set(got) == set(texts)
    for i, t in texts.items():
        (n_words, mwl, sym, fa, n_stop, fb, fe, fails, ok) = _py_gopher(i, t)
        r = got[i]
        assert r.n_words == n_words and r.n_stop_words == n_stop, i
        for a, b in ((r.mean_word_len, mwl), (r.symbol_ratio, sym),
                     (r.frac_alpha_words, fa), (r.frac_bullet_lines, fb),
                     (r.frac_ellipsis_lines, fe)):
            assert abs(a - b) < 1e-12, i
        assert r.n_rules_failed == fails and r.pass_gopher == ok, i


def test_gopher_rules_each_fire(spark, tmp_path):
    """Crafted docs tripping individual rules: word count, mean word
    length, symbol ratio, alpha fraction, and stop-word presence all
    fail somewhere; a 60-word natural-ish doc passes everything."""
    good = ("the quick brown fox jumps over the lazy dog and then "
            "we have to be sure that it runs on with more words " * 3)
    rows = [
        (0, good),                                   # passes all rules
        (1, "too short to count"),                   # word-count rule
        (2, " ".join("pneumonoultramicroscopics" for _ in range(60))),
        (3, " ".join("### #" for _ in range(60))),   # symbol + alpha
        (4, " ".join(str(i) for i in range(60))),    # alpha + stopwords
    ]
    d = docs_dir(spark, tmp_path, rows)
    out = {r.doc_id: r for r in
           QUERIES["text_gopher_quality"].fn(spark, d).collect()}
    for i, t in rows:
        want = _py_gopher(i, t)
        assert (out[i].n_rules_failed, out[i].pass_gopher) == want[7:9], i
    assert out[0].pass_gopher
    assert not out[1].pass_gopher and out[1].n_words < 50
    assert out[2].mean_word_len > 10
    assert out[3].symbol_ratio > 0.1
    # the synthesized line suffix contributes 'to'/'be', so the
    # stop-word rule passes for doc 4 — the alpha rule still fires
    assert out[4].frac_alpha_words < 0.8 and out[4].n_rules_failed >= 2


def test_substring_hash64_mode_matches_md5_mode(spark, sf_dir):
    """The 100 TB key mode (xxhash64 window keys) must produce the
    identical result on a collision-free corpus — same rows, same
    coverage — differing only in shuffle width."""
    from jira_scraper_etl_spark.catalog import load_table
    from jira_scraper_etl_spark.plans.corpus_ops import substring_dup_stats

    d = load_table(spark, sf_dir, "documents")
    a = {r.doc_id: (r.n_dup_sites, r.dup_token_cov)
         for r in substring_dup_stats(d).collect()}
    b = {r.doc_id: (r.n_dup_sites, r.dup_token_cov)
         for r in substring_dup_stats(d, hash64=True).collect()}
    assert a == b and any(v[0] > 0 for v in a.values())


def _py_repetition_coverage(texts):
    """Python twin of text_repetition_coverage: per-doc top-{2,3,4}-gram
    and duplicated-{5,8}-gram interval-union coverage fractions."""
    from collections import Counter

    out = {}
    for i, t in texts.items():
        if t is None or t.strip() == "":
            continue
        tk = [w for w in re.split(r"\s+", t.lower()) if w != ""]
        row = {"n_tokens": len(tk),
               "dup_word_frac": 1.0 - len(set(tk)) / len(tk)}
        for n, mode in ((2, "top"), (3, "top"), (4, "top"),
                        (5, "dup"), (8, "dup")):
            grams = [" ".join(tk[p:p + n]) for p in range(len(tk) - n + 1)]
            c = Counter(grams)
            if mode == "top":
                sel = ({min(sorted(c), key=lambda g: (-c[g], g))}
                       if c else set())
            else:
                sel = {g for g, k in c.items() if k >= 2}
            pos = [p for p, g in enumerate(grams) if g in sel]
            cov, prev = 0, -n
            for s in pos:
                cov += min(n, s - prev)
                prev = s
            row[f"{mode}{n}_cov_frac"] = cov / len(tk)
        out[i] = row
    return out


def test_repetition_coverage_matches_python(spark, sf_dir):
    """Differential vs the Python twin on the real corpus, plus crafted
    degenerate docs (pure loop, half-boilerplate, all-distinct)."""
    from jira_scraper_etl_spark.catalog import load_table

    texts = {r.doc_id: r.text for r in
             load_table(spark, sf_dir, "documents")
             .select("doc_id", "text").collect()}
    want = _py_repetition_coverage(texts)
    got = {r.doc_id: r for r in
           QUERIES["text_repetition_coverage"].fn(spark, sf_dir).collect()}
    assert set(got) == set(want)
    for i, w in want.items():
        r = got[i]
        assert r.n_tokens == w["n_tokens"], i
        for k, v in w.items():
            if k != "n_tokens":
                assert abs(getattr(r, k) - v) < 1e-12, (i, k)


def test_repetition_coverage_degenerate_docs(spark, tmp_path):
    """A pure loop doc saturates every signal; an all-distinct doc
    zeroes the dup signals; self-overlapping grams stay in [0, 1]."""
    rows = [
        (0, " ".join(["spam"] * 40)),                       # pure loop
        (1, " ".join(f"w{i}" for i in range(40))),          # all distinct
        (2, " ".join(f"p{i % 10}" for i in range(40))),     # period-10 loop
    ]
    d = docs_dir(spark, tmp_path, rows)
    got = {r.doc_id: r for r in
           QUERIES["text_repetition_coverage"].fn(spark, d).collect()}
    want = _py_repetition_coverage({i: t for i, t in rows})
    for i, w in want.items():
        for k, v in w.items():
            g = getattr(got[i], k)
            assert abs(g - v) < 1e-12, (i, k)
            if k.endswith("_frac"):
                assert 0.0 <= g <= 1.0
    assert got[0].top2_cov_frac == 1.0 and got[0].dup8_cov_frac == 1.0
    assert got[1].dup5_cov_frac == 0.0 and got[1].dup_word_frac == 0.0
    assert got[2].dup8_cov_frac == 1.0  # period-10 repetition at n=8


def test_c4_filters_rules_fire_and_replay(spark, sf_dir, tmp_path):
    """Python replay of every C4 metric on the real corpus, plus the
    rule branches: the synthesized lines make each doc_id % 5 class
    trip exactly one page-level rule (or none for class 0)."""
    from jira_scraper_etl_spark.catalog import load_table

    texts = {r.doc_id: r.text for r in
             load_table(spark, sf_dir, "documents")
             .select("doc_id", "text").collect()
             if r.text is not None and r.text.strip() != ""}
    got = {r.doc_id: r for r in
           QUERIES["text_c4_filters"].fn(spark, sf_dir).collect()}
    assert set(got) == set(texts)
    suffix2 = {0: "this line ends with terminal punctuation.",
               1: "please enable javascript to view this page",
               2: "by continuing you accept our privacy policy.",
               3: "function f() { return 0; }",
               4: "lorem ipsum dolor sit amet!"}
    for i, t in texts.items():
        g = (t + ".\n" + suffix2[i % 5] + "\n"
             + ("short line" if i % 2 == 0
                else "a longer line with enough words to pass the cut."))
        lines = g.split("\n")
        low = g.lower()
        r = got[i]
        assert r.n_lines == len(lines)
        assert r.n_terminal_lines == sum(
            1 for x in lines if re.search(r'[.!?"]$', x))
        assert r.n_short_lines == sum(
            1 for x in lines
            if len([w for w in re.split(r"\s+", x) if w != ""]) < 5)
        assert r.n_sentences == len(re.findall(r"[.!?]", low))
        assert r.has_lorem == ("lorem ipsum" in low)
        assert r.has_brace == ("{" in g)
        assert r.has_javascript == ("javascript" in low)
        assert r.has_policy_phrase == bool(re.search(
            r"terms of use|privacy policy|cookie policy|uses cookies", low))
        want_pass = (r.n_sentences >= 3 and not r.has_lorem
                     and not r.has_brace and not r.has_javascript
                     and not r.has_policy_phrase)
        assert r.pass_c4 == want_pass
        if i % 5 in (1, 2, 3, 4):
            assert not r.pass_c4  # each class trips its page rule


def test_source_rollup_accounts_exactly(spark, tmp_path):
    """Crafted corpus: two sources with known duplicate mass and
    language mixes; rollup numbers are exact and the top-lang
    tie-break is lexicographic."""
    rows = [
        (1, "a b c", "en", "s1"), (2, "a b c", "en", "s1"),   # dup pair
        (3, "x y", "de", "s1"),
        (4, "unique one", "en", "s2"), (5, "unique two", "fr", "s2"),
    ]
    df = spark.createDataFrame(
        [(i, t, lg, src, len(t)) for i, t, lg, src in rows],
        "doc_id long, text string, lang string, source string, n_chars long")
    d = str(tmp_path / "sf")
    df.write.parquet(f"{d}/documents.parquet")
    out = {r.source: r for r in
           QUERIES["curate_source_rollup"].fn(spark, d).collect()}
    s1, s2 = out["s1"], out["s2"]
    assert (s1.n_docs, s1.n_tokens, s1.n_dup_docs) == (3, 8, 2)
    assert abs(s1.dup_frac - 2 / 3) < 1e-12
    assert (s1.n_langs, s1.top_lang) == (2, "en")
    assert abs(s1.top_lang_share - 2 / 3) < 1e-12
    assert (s2.n_docs, s2.n_dup_docs, s2.n_langs) == (2, 0, 2)
    # 1-1 language tie inside s2: lexicographically smallest wins
    assert s2.top_lang == "en" and abs(s2.top_lang_share - 0.5) < 1e-12


def test_fineweb_keep_consistent_with_component_entries(spark, sf_dir):
    """The composed verdict's stage booleans must equal what the
    individually-oracle-checked component entries report: language
    argmax, repetition coverages vs the thresholds, and the md5
    first-occurrence election; reason must be the first failing stage
    and keep the conjunction."""
    from jira_scraper_etl_spark.catalog import load_table
    from jira_scraper_etl_spark.plans.corpus_ops import (
        FINEWEB_DUP5_MAX, FINEWEB_TOP2_MAX)

    got = {r.doc_id: r for r in
           QUERIES["curate_fineweb_keep"].fn(spark, sf_dir).collect()}
    lang = {r.doc_id: r.predicted_lang for r in
            QUERIES["text_language_id"].fn(spark, sf_dir).collect()}
    rep = {r.doc_id: r for r in
           QUERIES["text_repetition_coverage"].fn(spark, sf_dir).collect()}
    texts = {r.doc_id: r.text for r in
             load_table(spark, sf_dir, "documents")
             .select("doc_id", "text").collect()
             if r.text is not None and r.text.strip() != ""}
    import hashlib
    first = {}
    for i in sorted(texts):
        h = hashlib.md5(texts[i].encode()).hexdigest()
        first.setdefault(h, i)
    assert set(got) == set(texts)
    n_kept = 0
    for i, r in got.items():
        assert r.lang_ok == (lang[i] == "en"), i
        assert r.repetition_ok == (
            rep[i].top2_cov_frac <= FINEWEB_TOP2_MAX
            and rep[i].dup5_cov_frac <= FINEWEB_DUP5_MAX), i
        h = hashlib.md5(texts[i].encode()).hexdigest()
        assert r.is_canonical == (first[h] == i), i
        assert r.keep == (r.lang_ok and r.gopher_ok and r.c4_ok
                          and r.repetition_ok and r.is_canonical), i
        want_reason = ("lang" if not r.lang_ok else
                       "quality" if not r.gopher_ok else
                       "c4" if not r.c4_ok else
                       "repetition" if not r.repetition_ok else
                       "duplicate" if not r.is_canonical else "kept")
        assert r.reason == want_reason, i
        n_kept += r.keep
    # the verdict must discriminate on this corpus, not rubber-stamp
    assert 0 < len({r.reason for r in got.values()})
