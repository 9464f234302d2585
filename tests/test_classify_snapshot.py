"""Unit tests for the r10 session-3 operators: the WordPiece trainer,
the Naive-Bayes classifiers, and the snapshot diff."""

from __future__ import annotations

import hashlib


def _write_docs(spark, tmp_path, rows, langs=None, sources=None):
    """rows: [(doc_id, text)]; optional parallel lang/source lists."""
    data = [
        (
            i,
            t,
            (langs[k] if langs else "en"),
            (sources[k] if sources else "src0"),
            len(t),
        )
        for k, (i, t) in enumerate(rows)
    ]
    d = str(tmp_path / "docs")
    spark.createDataFrame(
        data, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return d


def _bucket(salt: str, doc_id: int) -> int:
    return int(hashlib.md5(f"{salt}{doc_id}".encode()).hexdigest()[:15], 16) % 10


# ---------------------------------------------------------------------------
# wordpiece_learn
# ---------------------------------------------------------------------------


def test_wordpiece_prefers_likelihood_over_frequency(spark, tmp_path):
    """The defining WordPiece property: the most FREQUENT pair loses to
    the pair with the higher likelihood gain. ('the','cat') appears 10
    times but both words are common (score 10/(10·10)=0.1);
    ('zig','zag') appears 3 times with unigrams only inside the pair
    (score 3/(3·3)=0.333). BPE would merge the first; WordPiece must
    merge the second."""
    from mito_spark.operators.text import wordpiece_learn

    rows = [(i, "the cat") for i in range(10)] + [
        (100 + i, "zig zag") for i in range(3)
    ]
    d = _write_docs(spark, tmp_path, rows)
    out = wordpiece_learn(spark, d, rounds=1).collect()
    assert (out[0]["a"], out[0]["b"]) == ("zig", "zag")
    assert (out[0]["n_pair"], out[0]["n_a"], out[0]["n_b"]) == (3, 3, 3)


def test_wordpiece_min_pair_floor_stops_on_hapax(spark, tmp_path):
    """All pairs are hapax -> no candidate survives WP_MIN_PAIR -> the
    loop stops with zero merges (not a crash, not a junk merge)."""
    from mito_spark.operators.text import wordpiece_learn

    d = _write_docs(spark, tmp_path, [(0, "a b"), (1, "c d"), (2, "e f")])
    assert wordpiece_learn(spark, d, rounds=3).count() == 0


def test_wordpiece_floor_scales_with_pair_mass(spark, tmp_path):
    """The support floor derives from the corpus — max(2, floor(log10 N))
    with N the round's total pair mass. At N=1000 the floor is 3, so a
    count-2 pair can no longer win however perfect its likelihood
    score; at N=988 the floor is back to 2 and the same pair wins."""
    from mito_spark.operators.text import wordpiece_learn

    # N = 998 + 2 = 1000 -> floor 3: ('zig','zag') n=2 filtered,
    # ('p','q') wins despite its far lower likelihood score (1/998)
    rows = [(i, "p q") for i in range(998)] + [
        (2000, "zig zag"),
        (2001, "zig zag"),
    ]
    d = _write_docs(spark, tmp_path, rows)
    out = wordpiece_learn(spark, d, rounds=1).collect()
    assert (out[0]["a"], out[0]["b"]) == ("p", "q")

    # N = 986 + 2 = 988 -> floor 2: the count-2 likelihood winner
    # (score 2/4 = 0.5) beats ('p','q') again
    rows = [(i, "p q") for i in range(986)] + [
        (2000, "zig zag"),
        (2001, "zig zag"),
    ]
    d = _write_docs(spark, tmp_path, rows)
    out = wordpiece_learn(spark, d, rounds=1).collect()
    assert (out[0]["a"], out[0]["b"]) == ("zig", "zag")


def test_wordpiece_applies_merge_before_next_round(spark, tmp_path):
    """Round 2 must count pairs over round 1's MERGED arrays: three
    'u v w' docs merge (u,v) first (tie with (v,w) broken a-asc), so
    round 2's only candidate is ('u v', 'w')."""
    from mito_spark.operators.text import wordpiece_learn

    d = _write_docs(spark, tmp_path, [(i, "u v w") for i in range(3)])
    rows = {r["round"]: r for r in wordpiece_learn(spark, d, rounds=2).collect()}
    assert (rows[1]["a"], rows[1]["b"]) == ("u", "v")
    assert (rows[2]["a"], rows[2]["b"]) == ("u v", "w")
    assert (rows[2]["n_pair"], rows[2]["n_a"], rows[2]["n_b"]) == (3, 3, 3)


# ---------------------------------------------------------------------------
# subword WordPiece (## continuation form)
# ---------------------------------------------------------------------------


def test_wps_learn_merges_continuation_pieces(spark, tmp_path):
    """The ## convention end-to-end on 'hello' word types: round 1
    merges (h,##e) -> 'he' (the only pair whose BOTH unigrams are
    pair-exclusive: score 30/900 beats 30/1800 and 30/3600), and a
    later round must treat merged symbols as units — '##l'+'##o' ->
    '##lo' keeps the continuation prefix."""
    from mito_spark.operators.text import wordpiece_learn_subword

    rows = [(i, "hello hello hello") for i in range(10)]
    d = _write_docs(spark, tmp_path, rows)
    out = {r["round"]: r for r in wordpiece_learn_subword(spark, d).collect()}
    assert (out[1]["a"], out[1]["b"]) == ("h", "##e")
    assert (out[1]["n_pair"], out[1]["n_a"], out[1]["n_b"]) == (30, 30, 30)
    # round 2: ('##l','##o') and ('he','##l') tie at 30/1800 (identical
    # IEEE products); the (a asc, b asc) tiebreak picks '##l' < 'he'
    assert (out[2]["a"], out[2]["b"]) == ("##l", "##o")
    # round 3 counts over MERGED arrays [he,##l,##lo]: both remaining
    # pairs score 30/900; a-asc again -> ('##l','##lo') -> '##llo'
    assert (out[3]["a"], out[3]["b"]) == ("##l", "##lo")


def test_wps_encode_greedy_longest_match_and_unk(spark, tmp_path):
    """Greedy longest-match first-fit over alphabet+merges, with the
    WPS_MIN_WC unseen path: 'hello' trains to a single piece; the
    HAPAX word 'hell' (excluded from training) still segments as
    [he,##l,##l] = 3 pieces; 'xyz' has chars outside the training
    alphabet and bills as [UNK]."""
    from mito_spark.operators.text import wordpiece_encode_subword

    rows = [(i, "hello hello") for i in range(4)] + [(100, "hell"), (101, "xyz")]
    d = _write_docs(spark, tmp_path, rows)
    got = {r["doc_id"]: r for r in wordpiece_encode_subword(spark, d).collect()}
    assert (got[0]["n_words"], got[0]["n_pieces"], got[0]["n_unk_words"]) == (2, 2, 0)
    assert got[0]["fertility"] == 1.0
    assert (got[100]["n_words"], got[100]["n_pieces"], got[100]["n_unk_words"]) == (1, 3, 0)
    assert got[100]["fertility"] == 3.0
    assert (got[101]["n_words"], got[101]["n_pieces"], got[101]["n_unk_words"]) == (1, 1, 1)


def test_wps_rejects_hash_in_training_charset(spark, tmp_path):
    """'#' in a training word would make the '##' continuation
    namespace ambiguous — the trainer must fail loudly, not emit a
    colliding vocabulary."""
    import pytest

    from mito_spark.operators.text import wordpiece_learn_subword

    d = _write_docs(spark, tmp_path, [(0, "a#b a#b"), (1, "a#b cd")])
    with pytest.raises(ValueError, match="'#'"):
        wordpiece_learn_subword(spark, d)


# ---------------------------------------------------------------------------
# Naive-Bayes classifiers
# ---------------------------------------------------------------------------


def test_nb_langid_separates_disjoint_alphabets(spark, tmp_path):
    """Two languages with disjoint character distributions: the
    trained model must classify every held-out doc correctly (the
    confusion matrix is purely diagonal). Doc ids are chosen so the
    deterministic md5 split puts both classes in both splits."""
    from mito_spark.operators.classify import nb_langid_report

    rows, langs = [], []
    for i in range(24):
        rows.append((i, "alpha apple amble aargh alarm area"))
        langs.append("aa")
    for i in range(24, 48):
        rows.append((i, "zzyzx buzz fuzzy jazzy pizza zest"))
        langs.append("zz")
    te = [i for i in range(48) if _bucket("nbsplit:v1:", i) >= 8]
    tr = [i for i in range(48) if _bucket("nbsplit:v1:", i) < 8]
    assert any(i < 24 for i in te) and any(i >= 24 for i in te)
    assert any(i < 24 for i in tr) and any(i >= 24 for i in tr)

    d = _write_docs(spark, tmp_path, rows, langs=langs)
    out = nb_langid_report(spark, d).collect()
    assert all(r["true_lang"] == r["predicted_lang"] for r in out)
    assert sum(r["n_docs"] for r in out) == len(te)


def test_char_trigrams_skip_null_elements(spark):
    """A NULL element in the char array is skipped inside its grams,
    as in the ``concat_ws("", slice(chars, i, 3))`` form, rather than
    nulling the gram; a NULL-free array gives the plain trigrams."""
    from pyspark.sql import functions as F

    from mito_spark.operators.classify import _char_trigrams

    df = spark.createDataFrame(
        [(["a", "b", "c", "d"],), (["a", None, "c", "d"],), (["a", "b"],)],
        "chars array<string>",
    )
    got = [r.grams for r in df.select(_char_trigrams(F.col("chars")).alias("grams")).collect()]
    assert got == [["abc", "bcd"], ["ac", "cd"], []]


def test_nb_langid_gramless_docs_predict_und(spark, tmp_path):
    """Docs shorter than one trigram have no features; they must
    surface as 'und', never vanish from the confusion matrix."""
    from mito_spark.operators.classify import nb_langid_report

    # find a doc id landing in the test split for the short doc
    short_id = next(i for i in range(100) if _bucket("nbsplit:v1:", i) >= 8)
    rows = [(i + 1000, "alpha apple amble") for i in range(10)]
    rows.append((short_id, "xy"))
    langs = ["aa"] * 10 + ["short"]
    d = _write_docs(spark, tmp_path, rows, langs=langs)
    out = {(r["true_lang"], r["predicted_lang"]): r["n_docs"] for r in
           nb_langid_report(spark, d).collect()}
    assert out.get(("short", "und")) == 1


def test_quality_classifier_learns_length_label(spark, tmp_path):
    """The weak label is a word-count threshold; with clearly separated
    short/long docs the hashed-NB scores must recover it on the
    held-out split (every report row has weak_label ==
    predicted_label)."""
    from mito_spark.operators.classify import quality_classifier_report

    rows = []
    for i in range(30):
        rows.append((i, "tiny doc few words"))
    for i in range(30, 60):
        rows.append((i, " ".join(f"w{j % 17}" for j in range(60))))
    d = _write_docs(spark, tmp_path, rows)
    out = quality_classifier_report(spark, d).collect()
    assert len(out) > 0
    assert all(r["weak_label"] == r["predicted_label"] for r in out)


# ---------------------------------------------------------------------------
# snapshot diff
# ---------------------------------------------------------------------------


def test_snapshot_diff_statuses(spark):
    """Planted two-snapshot diff: one of each status, exact rollup."""
    from mito_spark.operators.snapshot import snapshot_diff

    old = spark.createDataFrame(
        [(1, "s", "gone"), (2, "s", "same"), (3, "s", "before")],
        "doc_id long, source string, text string",
    )
    new = spark.createDataFrame(
        [(2, "s", "same"), (3, "s", "after!"), (4, "s", "fresh")],
        "doc_id long, source string, text string",
    )
    got = {
        r["status"]: (r["n_docs"], r["sum_chars_new"])
        for r in snapshot_diff(old, new).collect()
    }
    assert got == {
        "added": (1, 5),
        "changed": (1, 6),
        "removed": (1, 0),
        "unchanged": (1, 4),
    }


def test_corpus_snapshot_diff_produces_all_statuses(spark, sf_dir):
    """The simulated snapshots must exercise every status at gate SF
    (the md5 buckets guarantee population at 100+ docs)."""
    from mito_spark.operators.snapshot import corpus_snapshot_diff

    rows = corpus_snapshot_diff(spark, sf_dir).collect()
    statuses = {r["status"] for r in rows}
    assert statuses == {"added", "removed", "changed", "unchanged"}
    # changed rows really changed: the edit truncates, so sum_chars_new
    # per changed row is below the unchanged mean -- structural sanity
    assert all(r["n_docs"] > 0 for r in rows)


def test_wordpiece_encode_compression(spark, tmp_path):
    """Three 'zig zag' docs: round 1 merges the pair, so every doc
    encodes 2 -> 1 tokens, ratio exactly 2.0; the filler docs keep
    their raw counts when no merge touches them."""
    from mito_spark.operators.text import wordpiece_encode

    rows = [(i, "zig zag") for i in range(3)] + [(10, "lone")]
    d = _write_docs(spark, tmp_path, rows)
    got = {r["doc_id"]: r for r in wordpiece_encode(spark, d).collect()}
    assert (got[0]["n_tokens_raw"], got[0]["n_tokens_wp"]) == (2, 1)
    assert got[0]["compression_ratio"] == 2.0
    assert (got[10]["n_tokens_raw"], got[10]["n_tokens_wp"]) == (1, 1)


def test_nb_top_features_surface_exclusive_gram(spark, tmp_path):
    """A trigram that appears ONLY in one language must rank at the
    top of that language's feature list (maximal one-vs-rest
    log-odds)."""
    from mito_spark.operators.classify import nb_langid_top_features

    rows, langs = [], []
    for i in range(24):
        rows.append((i, "alpha apple amble arena"))
        langs.append("aa")
    for i in range(24, 48):
        rows.append((i, "zzz qqq zzz qqq zzz"))
        langs.append("zz")
    d = _write_docs(spark, tmp_path, rows, langs=langs)
    out = nb_langid_top_features(spark, d).collect()
    top_zz = [r for r in out if r["lang"] == "zz" and r["rank"] == 1][0]
    # the winning zz gram never appears in aa text
    assert top_zz["n_rest"] == 0
    assert top_zz["log_odds"] > 0
    # ranks are dense and bounded per class
    for lang in ("aa", "zz"):
        ranks = sorted(r["rank"] for r in out if r["lang"] == lang)
        assert ranks == list(range(1, len(ranks) + 1))


def test_ingest_delta_pipeline_dup_precedence(spark, tmp_path):
    """A batch doc identical to a canon doc must bill as 'dup' even
    though it would pass the quality floor — dup > low_quality >
    accepted. Doc ids are solved against the md5 snapshot buckets so
    one long doc lands in the canon range [5,80) and its copy in the
    batch range [80,100)."""
    from mito_spark.operators.snapshot import ingest_delta_pipeline

    def bkt(i):
        return int(
            hashlib.md5(f"snap:v1:{i}".encode()).hexdigest()[:15], 16
        ) % 100

    canon_id = next(i for i in range(1000) if 5 <= bkt(i) < 80)
    dup_id = next(i for i in range(1000) if bkt(i) >= 80)
    short_id = next(i for i in range(1000) if bkt(i) >= 80 and i != dup_id)
    long_text = " ".join(f"tok{j % 13}" for j in range(60))
    rows = [
        (canon_id, long_text),
        (dup_id, long_text),
        (short_id, "short batch doc"),
    ]
    d = _write_docs(spark, tmp_path, rows)
    out = {r["source"]: r for r in ingest_delta_pipeline(spark, d).collect()}
    r = out["src0"]
    assert r["n_batch"] == 2
    assert r["n_dup"] == 1  # the identical copy, NOT accepted
    assert r["n_low_quality"] == 1  # the short batch doc
    assert r["n_accepted"] == 0


# ---------------------------------------------------------------------------
# audio chunking + embedding drift
# ---------------------------------------------------------------------------


def test_audio_chunk_features_overlap_and_energy(spark):
    """Frame/hop chunking with exact pinned values: 300 bytes at
    chunk=128/hop=96 gives floor((300-32)/96)=2 chunks starting at 0
    and 96; energies are plain byte sums; consecutive chunks share
    chunk-hop=32 trailing/leading bytes."""
    from mito_spark.operators.multimodal import audio_chunk_features

    payload = bytes(range(256)) + bytes(44)
    df = spark.createDataFrame(
        [(7, payload)], "media_id long, content binary"
    )
    rows = sorted(
        audio_chunk_features(df, fake=True).collect(),
        key=lambda r: r["chunk_idx"],
    )
    assert [(r["chunk_idx"], r["start_byte"], r["n_bytes"]) for r in rows] == [
        (0, 0, 128),
        (1, 96, 128),
    ]
    assert rows[0]["energy"] == sum(payload[0:128])
    assert rows[1]["energy"] == sum(payload[96:224])
    # overlap: bytes [96,128) counted in both chunks
    assert rows[0]["energy"] + rows[1]["energy"] == sum(payload[:224]) + sum(
        payload[96:128]
    )


def test_audio_chunk_features_requires_fake_gate(spark):
    import pytest as _pytest

    from mito_spark.operators.multimodal import audio_chunk_features

    df = spark.createDataFrame([(1, b"x")], "media_id long, content binary")
    with _pytest.raises(NotImplementedError):
        audio_chunk_features(df)


def test_audio_chunk_short_payload_single_chunk(spark):
    """A payload shorter than one frame still yields exactly one
    (truncated) chunk — never zero rows for non-empty media."""
    from mito_spark.operators.multimodal import audio_chunk_features

    df = spark.createDataFrame([(1, b"abc")], "media_id long, content binary")
    rows = audio_chunk_features(df, fake=True).collect()
    assert len(rows) == 1
    assert rows[0]["n_bytes"] == 3 and rows[0]["energy"] == sum(b"abc")


def test_embedding_snapshot_drift_zero_for_identical_members(spark, tmp_path):
    """If every vector of a label is identical, membership churn moves
    nothing: the centroid is the same point in both snapshots and
    l2_shift must be exactly 0."""
    from mito_spark.operators.snapshot import embedding_snapshot_drift

    d = str(tmp_path / "emb")
    rows = [(i, [1.5, -2.25, 0.5, 3.0], 0) for i in range(40)]
    rows += [(100 + i, [float(i), 1.0, 0.0, 0.0], 1) for i in range(40)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    out = {r["label"]: r for r in embedding_snapshot_drift(spark, d).collect()}
    assert out[0]["l2_shift"] == 0.0
    # label 1's members differ, so churn must move its centroid
    assert out[1]["l2_shift"] > 0.0


def test_bootstrap_ci_brackets_mean(spark, sf_dir):
    """Percentile-bootstrap CI must bracket the sample mean on every
    gate-corpus source (n>=20 docs each), and re-evaluation is
    bit-identical (hash-derived weights, not random)."""
    from mito_spark.operators.sampling import bootstrap_ci_report

    a = bootstrap_ci_report(spark, sf_dir).collect()
    for r in a:
        assert r["ci_lo"] <= r["mean_tokens"] <= r["ci_hi"], r
        assert r["ci_lo"] < r["ci_hi"]
    b = bootstrap_ci_report(spark, sf_dir).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_pr_curve_monotone_tradeoff(spark, sf_dir):
    """Raising the threshold can only shrink the predicted-pass set:
    tp and fp non-increasing, fn non-decreasing; counts conserve
    (tp+fn = total weak-pass docs at every rung)."""
    from mito_spark.operators.classify import quality_classifier_pr_curve

    rows = quality_classifier_pr_curve(spark, sf_dir).collect()
    pos = rows[0]["tp"] + rows[0]["fn"]
    for prev, nxt in zip(rows, rows[1:]):
        assert nxt["tp"] <= prev["tp"]
        assert nxt["fp"] <= prev["fp"]
        assert nxt["fn"] >= prev["fn"]
        assert nxt["tp"] + nxt["fn"] == pos


# ---------------------------------------------------------------------------
# quality_classifier_calibration
# ---------------------------------------------------------------------------


def test_qc_calibration_rank_orders_separable_corpus(spark, tmp_path):
    """On a corpus where the weak label is linearly separable by the
    hashed features (long docs reuse 'goodword', short docs
    'badword'), the margin must RANK-order the held-out docs: the top
    bin's pass rate >= the bottom bin's, bins partition the scored
    held-out count, and rates stay in [0, 1]."""
    from mito_spark.operators.classify import quality_classifier_calibration

    rows = []
    for i in range(40):
        rows.append((i, "goodword " * 45))  # >= QC_MIN_WORDS -> pass
    for i in range(40, 80):
        rows.append((i, "badword " * 10))  # short -> fail
    d = _write_docs(spark, tmp_path, rows)
    out = quality_classifier_calibration(spark, d, bins=4).collect()
    assert [r["bin"] for r in out] == sorted(r["bin"] for r in out)
    assert all(0.0 <= r["pass_rate"] <= 1.0 for r in out)
    assert out[-1]["pass_rate"] >= out[0]["pass_rate"]
    # margins are monotone with the bins by construction of ntile
    means = [r["mean_margin"] for r in out]
    assert means == sorted(means)
