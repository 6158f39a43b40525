"""Compiled-reference differential for the FULL scoring pipeline.

The kernel below reproduces ``ranker/Ranker.java`` end to end — the
``URLWeights`` candidate model, ``findAllMatchingURLs`` (:83-111, quirk Q5
included), the stopword split and broken ``stemWords`` (:71-82, quirk Q4),
both expansion branches (:176-201), the occurrence pre-sort + 250 cut
(:204-205), the title bonus (:211-230), the HashMap-order TF-IDF weight
accumulation with ``Math.pow(idf, 1.5)`` (:206-252), and the final
``3·w + 0.75·pr + kw`` comparator sort (:255) — with the KVS point-gets
replaced by in-memory maps fed from stdin.  The index rows use the
reference's exact stored string format (``url:tf,url:tf``) and ntf/idf
arrive as decimal strings parsed with ``Double.parseDouble``, as the
reference parses its KVS bytes.

The maps are exported from the Spark engine's OWN built artifacts, so the
comparison is engine-vs-compiled-reference over identical inputs: the
candidate sets, occurrence counts, and every double (weight, keyword
match, score) must be BIT-EXACT, and the ranked order identical up to
equal-score groups (Q10: the reference's tie order is HashMap-values
order, normalized to doc-key-asc in the rebuild — SURVEY.md §7).

The stopword array is not copied into this file: it is parsed out of the
reference source at test time and cross-checked against the engine's
``STOPWORDS``, so the list itself is differentially pinned too.
"""

from __future__ import annotations

import base64
import math
import os
import random
import re
import subprocess

import pytest

_REF_RANKER = "/root/reference/src/cis5550/ranker/Ranker.java"

_JAVA_SRC_TEMPLATE = r"""
import java.io.*;
import java.nio.charset.StandardCharsets;
import java.util.*;
import static java.lang.Math.min;
import static java.lang.Math.pow;

// Reference scoring flow, verbatim from cis5550/ranker/Ranker.java with
// the KVS replaced by in-memory maps.  Sections on stdin (b64 = base64):
//   IDX <b64 term> <b64 "url:tf,url:tf,...">   (reference index row format)
//   NTF <b64 url> <ntf-decimal-string>
//   IDF <b64 term> <idf-decimal-string>
//   TIT <b64 url> <b64 title>
//   PRK <b64 url> <rank-decimal-string>
//   QRY <b64 query>
// Output per QRY: "Q <k>" then k lines
//   <b64 url>|<occurrence>|<hexWeight>|<hexPr>|<hexKw>|<hexScore>
public class RefScore {
    static Map<String, String> index = new HashMap<>();
    static Map<String, String> ntfs = new HashMap<>();
    static Map<String, String> idfs = new HashMap<>();
    static Map<String, String> titles = new HashMap<>();
    static Map<String, String> prs = new HashMap<>();

    // Ranker.java URLWeights, verbatim fields
    static class URLWeights {
        String url;
        Integer occurrence;
        Double page_rank;
        Double tf_idf_weight;
        Double keyword_match;
        Map<String, Double> word2tf;
        String title;
        URLWeights(String urlStr) {
            url = urlStr; occurrence = 1; page_rank = 0.0;
            tf_idf_weight = 0.0; word2tf = new HashMap<>();
            title = null; keyword_match = 0.0;
        }
        int getOccurrence() { return occurrence; }
    }

    // Ranker.java:71-82 verbatim: iterates the EMPTY target set, so the
    // result is always empty (quirk Q4)
    static Set<String> stemWords(String[] words) {
        Set<String> wordSet = new HashSet<String>();
        for (String word : wordSet) { wordSet.add(word); }
        return wordSet;
    }

    // Ranker.java:83-111 with kvs.get("index", word, "url") -> map get.
    // urlWeights is keyed by the raw url here instead of Hasher.hash(url):
    // our urls are unique already and the key choice only perturbs
    // HashMap iteration order, i.e. the tie order Q10 normalizes away.
    static Map<String, URLWeights> findAllMatchingURLs(Set<String> words_stemmed) {
        Map<String, URLWeights> urlWeights = new HashMap<>();
        for (String word : words_stemmed) {
            String urls = index.get(word);
            if (urls != null) {
                String[] split_urls = urls.split(",");
                for (String url : split_urls) {
                    int lastIndex = url.lastIndexOf(':');
                    String urlStr = url.substring(0, lastIndex);
                    Double tf = Double.parseDouble(url.substring(lastIndex + 1));
                    if (urlWeights.containsKey(urlStr)) {
                        urlWeights.get(urlStr).occurrence++;
                        urlWeights.get(urlStr).word2tf.put(word, tf);
                    } else {
                        urlWeights.put(urlStr, new URLWeights(urlStr));
                    }
                }
            }
        }
        return urlWeights;
    }

    public static void main(String[] args) throws Exception {
        // stopword list injected verbatim from the reference source
        List<String> stopwords = new ArrayList<>(Arrays.asList(__STOPWORDS__));
        PrintStream out = new PrintStream(System.out, true, "UTF-8");
        BufferedReader in = new BufferedReader(
            new InputStreamReader(System.in, StandardCharsets.UTF_8));
        java.util.Base64.Decoder dec = java.util.Base64.getDecoder();
        java.util.Base64.Encoder enc = java.util.Base64.getEncoder();
        String line;
        while ((line = in.readLine()) != null) {
            String[] parts = line.split(" ");
            String kind = parts[0];
            if (kind.equals("IDX")) {
                index.put(b64(dec, parts[1]), b64(dec, parts[2]));
            } else if (kind.equals("NTF")) {
                ntfs.put(b64(dec, parts[1]), parts[2]);
            } else if (kind.equals("IDF")) {
                idfs.put(b64(dec, parts[1]), parts[2]);
                // pow-probe: lets the Python side attribute any future
                // weight mismatch to a Math.pow-vs-libm ulp (see test)
                out.println("P " + parts[1] + "|" + Double.toHexString(
                    pow(Double.parseDouble(parts[2]), 1.5)));
            } else if (kind.equals("TIT")) {
                titles.put(b64(dec, parts[1]), b64(dec, parts[2]));
            } else if (kind.equals("PRK")) {
                prs.put(b64(dec, parts[1]), parts[2]);
            } else if (kind.equals("QRY")) {
                runQuery(out, enc, stopwords, b64(dec, parts[1]));
            }
        }
    }

    static String b64(java.util.Base64.Decoder dec, String s) {
        return new String(dec.decode(s), StandardCharsets.UTF_8);
    }

    // Ranker.java:150-255 verbatim (pagination / Gson envelope excluded —
    // differentially tested elsewhere)
    static void runQuery(PrintStream out, java.util.Base64.Encoder enc,
                         List<String> stopwords, String search_query) {
        String[] words = search_query.replaceAll("[.,:;!?'\"\\(\\)-]", " ")
                .trim().toLowerCase().split("\\s+");
        if (words.length < 1) { out.println("Q 0"); return; }
        Set<String> words_set = new HashSet<>(Arrays.asList(words));
        Set<String> stemmedWords = stemWords(words);
        Set<String> words_sw = new HashSet<>();
        Set<String> removedStopWords = new HashSet<>();
        for (String word : words_set) {
            if (stopwords.contains(word)) { removedStopWords.add(word); }
            else { words_sw.add(word); }
        }
        if (words_sw.isEmpty()) { words_sw = removedStopWords; }
        Map<String, URLWeights> urlWeights = findAllMatchingURLs(words_sw);
        Map<String, URLWeights> stemmedUrlWeights = new HashMap<>();
        if (urlWeights.size() < 50) {
            stemmedUrlWeights = findAllMatchingURLs(stemmedWords);
            for (Map.Entry<String, URLWeights> entry : stemmedUrlWeights.entrySet()) {
                if (!urlWeights.containsKey(entry.getKey())) {
                    urlWeights.put(entry.getKey(), entry.getValue());
                }
            }
        }
        if (urlWeights.size() < 50) {
            urlWeights = findAllMatchingURLs(words_set);
            for (Map.Entry<String, URLWeights> entry : stemmedUrlWeights.entrySet()) {
                if (!urlWeights.containsKey(entry.getKey())) {
                    urlWeights.put(entry.getKey(), entry.getValue());
                }
            }
        }
        if (urlWeights.size() < 1) { out.println("Q 0"); return; }
        List<URLWeights> urlWeightsArray = new ArrayList<>(urlWeights.values());
        Collections.sort(urlWeightsArray,
            Comparator.comparingInt(URLWeights::getOccurrence).reversed());
        urlWeightsArray = urlWeightsArray.subList(0, min(urlWeightsArray.size(), 250));
        for (URLWeights urlInfo : urlWeightsArray) {   // obtainPageRank
            String r = prs.get(urlInfo.url);
            urlInfo.page_rank = (r != null) ? Double.parseDouble(r) : 0.0;
        }
        Map<String, Integer> wordCount = new HashMap<>();
        for (String word : words) {
            wordCount.put(word, wordCount.getOrDefault(word, 0) + 1);
        }
        for (URLWeights urlInfo : urlWeightsArray) {
            urlInfo.title = titles.get(urlInfo.url);
            if (urlInfo.title.contains(search_query)) {
                urlInfo.keyword_match = 10.0;
            } else {
                Set<String> title_set = new HashSet<>(Arrays.asList(
                    urlInfo.title.replaceAll("[.,:;!?'\"\\(\\)-]", " ")
                        .trim().toLowerCase().split("\\s+")));
                Set<String> intersection = new HashSet<>(words_sw);
                intersection.retainAll(title_set);
                double overlapPercent = ((double) intersection.size() / words_sw.size());
                if (overlapPercent >= 0.6)
                    urlInfo.keyword_match = overlapPercent * 10;
            }
            double weight = 0;
            for (Map.Entry<String, Integer> entry : wordCount.entrySet()) {
                Double idf;
                String idf_s = idfs.get(entry.getKey());
                if (idf_s != null) idf = Double.parseDouble(idf_s);
                else idf = 0.0;
                Double wf;
                Double num = urlInfo.word2tf.get(entry.getKey());
                Double den = Double.parseDouble(ntfs.get(urlInfo.url));
                if (num != null && den != null) wf = num / den;
                else wf = 0.0;
                weight += entry.getValue() * pow(idf, 1.5) * wf;
            }
            urlInfo.tf_idf_weight = weight;
        }
        urlWeightsArray.sort(Comparator.comparingDouble(
            c -> -(3 * c.tf_idf_weight + 0.75 * c.page_rank + c.keyword_match)));
        out.println("Q " + urlWeightsArray.size());
        for (URLWeights u : urlWeightsArray) {
            double score = 3 * u.tf_idf_weight + 0.75 * u.page_rank + u.keyword_match;
            out.println(enc.encodeToString(u.url.getBytes(StandardCharsets.UTF_8))
                + "|" + u.occurrence
                + "|" + Double.toHexString(u.tf_idf_weight)
                + "|" + Double.toHexString(u.page_rank)
                + "|" + Double.toHexString(u.keyword_match)
                + "|" + Double.toHexString(score));
        }
    }
}
"""


def _reference_stopwords() -> list[str]:
    """Parse the stopword array out of the reference source verbatim."""
    src = open(_REF_RANKER, encoding="utf-8").read()
    m = re.search(
        r"List<String> stopwords = new ArrayList<>\(Arrays\.asList\((.*?)\)\);",
        src,
        re.S,
    )
    assert m, "stopword list not found in reference source"
    return re.findall(r'"([^"]*)"', m.group(1))


@pytest.fixture(scope="module")
def scoring_corpus(spark, vocabulary, tmp_path_factory):
    """<=250-doc corpus (the reference's 250-cut never engages, so Q10's
    tie-normalization at the cut boundary cannot desynchronize candidate
    sets) with its index built by the real Spark pipeline."""
    import pandas as pd

    from holi_search_engine_spark.corpus import generate_transcripts_pdf
    from holi_search_engine_spark.plans.index_build import build_index

    pdf = generate_transcripts_pdf(40, vocabulary).head(240).reset_index(drop=True)
    pdf_sp = pdf.copy()
    pdf_sp["ts"] = pdf_sp["ts"].dt.tz_localize(None)
    d = str(tmp_path_factory.mktemp("scoring_idx"))
    paths = build_index(
        spark, spark.createDataFrame(pdf_sp), d, frozenset(vocabulary), buckets=2
    )
    return pdf, paths


def _export_payload(engine, queries: list[str]) -> str:
    """Engine artifacts -> kernel stdin, in the reference's formats."""
    b64 = lambda s: base64.b64encode(s.encode()).decode()
    lines: list[str] = []
    reader = engine.reader
    terms = reader.terms()  # preloaded mode
    for term in terms:
        keys, tfs = reader.postings(term)
        row = ",".join(
            f"{int(k)}:{repr(float(t))}" for k, t in zip(keys, tfs)
        )
        lines.append(f"IDX {b64(term)} {b64(row)}")
    ntf = reader.load_docs(engine.paths.doc_stats, ("ntf",))
    for doc_key, v in zip(ntf.keys, ntf.vals):
        lines.append(f"NTF {b64(str(int(doc_key)))} {repr(float(v))}")
    for term in terms:
        lines.append(f"IDF {b64(term)} {repr(reader.idf(term))}")
    meta = reader.load_docs(engine.paths.doc_meta, ("title", "snippet"))
    for doc_key, title in zip(meta.keys, meta.vals[:, 0]):
        lines.append(f"TIT {b64(str(int(doc_key)))} {b64(title)}")
    for q in queries:
        lines.append(f"QRY {b64(q)}")
    return "\n".join(lines) + "\n"


def _make_queries(pdf, vocabulary, engine) -> list[str]:
    """Fixture queries + adversarial shapes: duplicates straddling the
    HashSet 16->32 capacity boundary INSIDE the <50-candidate expansion
    branch, stopword-only, exact-title substrings, repeated rare words."""
    import numpy as np

    from holi_search_engine_spark.corpus import make_query_fixtures
    from holi_search_engine_spark.functions.javacompat import java_hashset_order
    from holi_search_engine_spark.query.ranker import candidates

    qs = [q for _, q in make_query_fixtures(vocabulary)]
    # boundary query: >=13 raw tokens, <=12 distinct corpus terms whose
    # collection-constructor order differs from the default-cap order,
    # built from RARE terms (df <= 4) so the candidate union stays under
    # the expansion threshold and the reference's second
    # findAllMatchingURLs pass actually runs with the reordered set
    rare_terms = sorted(t for t in engine.reader.terms() if engine.reader.df(t) <= 4)
    assert len(rare_terms) >= 12, "corpus must have rare terms"
    rng = random.Random(20260820)
    boundary = None
    for _ in range(20000):
        distinct = rng.sample(rare_terms, rng.randint(8, 12))
        words = distinct + [rng.choice(distinct) for _ in range(17 - len(distinct))]
        rng.shuffle(words)
        coll = java_hashset_order(words, initial_from_collection=True)
        if java_hashset_order(coll) == coll:
            continue
        # require the query to be genuinely Q5-order-SENSITIVE: the two
        # iteration orders must drop different tfs (i.e. some candidate
        # doc matches >= 2 of the reordered terms), and the candidate set
        # must stay under the expansion threshold so the reference's
        # second findAllMatchingURLs pass actually runs
        keys_a, occ_a, tfs_a = candidates(coll, engine.reader.postings)
        keys_b, occ_b, tfs_b = candidates(java_hashset_order(coll), engine.reader.postings)
        if not len(keys_a) or len(keys_a) >= 50:
            continue
        # both passes return doc-key-ordered arrays over the same term set
        same = np.array_equal(keys_a, keys_b) and np.array_equal(occ_a, occ_b) and all(
            np.array_equal(tfs_a[t], tfs_b[t], equal_nan=True) for t in tfs_a
        )
        if not same:
            boundary = " ".join(words)
            break
    assert boundary is not None, "no Q5-order-sensitive boundary query found"
    qs.append(boundary)
    # low-df two-term query: expansion engages with ties in occurrence
    qs.append(f"{rare_terms[0]} {rare_terms[1]}")
    # exact-title substring (kw = 10.0 branch) and its lowercased miss
    title0 = pdf["text"].iloc[0][:40]
    qs.append(title0)
    qs.append(title0.upper())
    # repeated single rare word; all-stopword; mixed stopword-heavy
    qs.append("the of and to the of")
    qs.append(f"{rare_terms[2]} {rare_terms[2]} {rare_terms[2]}")
    qs.append(f"the {rare_terms[3]} of {rare_terms[4]} and")
    return qs


def test_export_payload_covers_every_doc(spark, scoring_corpus):
    """The kernel's stdin exporter runs without the reference tree, so it
    cannot rot unseen while the differential below skips: one NTF line
    and one TIT line per indexed doc, and one QRY line per query."""
    from holi_search_engine_spark.plans.index_build import read_meta
    from holi_search_engine_spark.query.ranker import RankerEngine

    _, paths = scoring_corpus
    engine = RankerEngine(spark, paths, preload=True)
    payload = _export_payload(engine, ["alpha beta", "the"])
    kinds = [line.split(" ", 1)[0] for line in payload.splitlines()]
    n_docs = read_meta(paths)["n_docs"]
    assert kinds.count("NTF") == kinds.count("TIT") == n_docs
    assert kinds.count("QRY") == 2


@pytest.mark.skipif(
    not os.path.exists(_REF_RANKER),
    reason="reference tree not mounted",
)
def test_scoring_matches_compiled_java_reference(spark, vocabulary,
                                                 scoring_corpus, tmp_path):
    from holi_search_engine_spark.query.ranker import RankerEngine
    from holi_search_engine_spark.query.stopwords import STOPWORDS

    pdf, paths = scoring_corpus
    engine = RankerEngine(spark, paths, preload=True)

    ref_stop = _reference_stopwords()
    # the engine's stopword set IS the reference's list (pinned here, not
    # copied into this test)
    assert set(ref_stop) == set(STOPWORDS)

    queries = _make_queries(pdf, vocabulary, engine)
    src = _JAVA_SRC_TEMPLATE.replace(
        "__STOPWORDS__", ", ".join('"%s"' % w for w in ref_stop)
    )
    (tmp_path / "RefScore.java").write_text(src, encoding="utf-8")
    subprocess.run(
        ["javac", "RefScore.java"], cwd=tmp_path, check=True,
        capture_output=True, timeout=120,
    )
    payload = _export_payload(engine, queries)
    p = subprocess.run(
        ["java", "-cp", str(tmp_path), "RefScore"],
        input=payload.encode(), capture_output=True, timeout=300, check=True,
    )
    all_lines = p.stdout.decode().splitlines()

    # pow-probe pre-check: weight bit-exactness additionally relies on
    # Math.pow(idf, 1.5) (HotSpot intrinsic, 1-ulp spec) agreeing with
    # CPython's libm pow on every exported idf — measured true for ~99.9%
    # of doubles and for this deterministic corpus.  Checking it FIRST
    # attributes any future divergence (e.g. after a corpus-generator
    # change) precisely instead of as a mysterious weight mismatch.
    for line in all_lines:
        if not line.startswith("P "):
            continue
        term_b64, hexpow = line[2:].split("|")
        term = base64.b64decode(term_b64).decode()
        idf = engine.reader.idf(term)
        mine = idf ** 1.5 if idf >= 0.0 else float("nan")
        assert _bits(mine) == _bits(float.fromhex(hexpow)), (
            f"Math.pow-vs-libm ulp divergence on idf({term!r})={idf!r}: "
            "pick a different corpus seed or relax this term to 1 ulp"
        )
    lines = [l for l in all_lines if not l.startswith("P ")]

    # parse kernel output per query
    results: list[list[tuple]] = []
    i = 0
    while i < len(lines):
        assert lines[i].startswith("Q ")
        k = int(lines[i][2:])
        rows = []
        for j in range(k):
            url_b64, occ, w, pr, kw, sc = lines[i + 1 + j].split("|")
            rows.append((
                int(base64.b64decode(url_b64).decode()),
                int(occ),
                float.fromhex(w), float.fromhex(pr),
                float.fromhex(kw), float.fromhex(sc),
            ))
        results.append(rows)
        i += 1 + k
    assert len(results) == len(queries)

    checked_docs = 0
    for q, jrows in zip(queries, results):
        got = engine.search(q)
        assert len(got) == len(jrows), (q, len(got), len(jrows))
        if not len(got):
            continue
        gmap = {
            int(dk): (int(o), float(w), float(pr), float(kw), float(sc))
            for dk, o, w, pr, kw, sc in zip(
                got["doc_key"], got["occurrence"], got["tf_idf_weight"],
                got["page_rank"], got["keyword_match"], got["score"],
            )
        }
        jmap = {r[0]: r[1:] for r in jrows}
        assert set(gmap) == set(jmap), q
        nan_scores = any(math.isnan(r[5]) for r in jrows)
        for dk, (jo, jw, jpr, jkw, jsc) in jmap.items():
            go, gw, gpr, gkw, gsc = gmap[dk]
            assert go == jo, (q, dk)
            # bit-exact doubles: same inputs, same HashMap-order float
            # accumulation, same Math.pow/NaN semantics
            assert _bits(gw) == _bits(jw), (q, dk, gw.hex(), jw.hex())
            assert _bits(gpr) == _bits(jpr), (q, dk)
            assert _bits(gkw) == _bits(jkw), (q, dk, gkw, jkw)
            assert _bits(gsc) == _bits(jsc), (q, dk, gsc.hex(), jsc.hex())
            checked_docs += 1
        if nan_scores:
            continue  # NaN order is unspecified in both engines (Q10 note)
        # rank order: identical score sequence; within an equal-score run
        # the reference's order is HashMap-values order (Q10 normalizes
        # to doc-key asc), so compare the run's doc SET
        gseq = list(zip(got["doc_key"].astype(int), got["score"]))
        jseq = [(r[0], r[5]) for r in jrows]
        assert [s for _, s in gseq] == [s for _, s in jseq], q
        start = 0
        while start < len(gseq):
            end = start
            while end < len(gseq) and gseq[end][1] == gseq[start][1]:
                end += 1
            assert {d for d, _ in gseq[start:end]} == {d for d, _ in jseq[start:end]}, q
            start = end
    assert checked_docs > 100, "differential must exercise real candidates"


def _bits(x: float) -> int:
    import struct

    # NaN-safe bit comparison (all our NaNs are the canonical quiet NaN
    # from Java Math.pow / numpy; compare payloads exactly anyway)
    return struct.unpack("<Q", struct.pack("<d", x))[0]
