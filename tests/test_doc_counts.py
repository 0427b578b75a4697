"""Documentation count hygiene: README's query/oracle/rows-only claims
must equal the live registry. Hand-typed counts went stale twice (README
in r4, CHANGES_r05 in r5) — this test ends the class by asserting every
numeric claim against `collect_registry()` itself. No Spark session
needed; the registry is plain dicts."""
import json
import os
import re

from big_data_science_project_spark.operators import collect_registry

README = "/root/repo/README.md"


def _counts():
    queries, oracles = collect_registry()
    return len(queries), len(oracles), len(queries) - len(oracles)


def test_readme_counts_match_registry():
    n_q, n_o, n_rows_only = _counts()
    text = open(README).read()
    # collapse wrapped lines so phrases split across a line break match
    flat = re.sub(r"\s+", " ", text)

    m = re.search(r"(\d+) named queries", flat)
    assert m, "README no longer states the named-query count"
    assert int(m.group(1)) == n_q, (
        f"README claims {m.group(1)} queries, registry has {n_q}")

    m = re.search(r"(\d+) queries carry oracles", flat)
    assert m, "README no longer states the oracle count"
    assert int(m.group(1)) == n_o, (
        f"README claims {m.group(1)} oracles, registry has {n_o}")

    m = re.search(r"The (\d+) rows-only queries", flat)
    assert m, "README no longer states the rows-only count"
    assert int(m.group(1)) == n_rows_only, (
        f"README claims {m.group(1)} rows-only, registry has {n_rows_only}")

    # The "N oracle matches" sentence cites FROZEN selfcheck artifacts, so
    # it must match what those files actually record — asserting it
    # against the live registry (the r6 version of this test) is what made
    # the sentence silently misstate the artifact when oracles were added
    # without a regen. Artifact freshness is a separate test below.
    arts = _selfcheck_artifacts(text)
    cites = re.findall(r"(\d+) oracle matches, 0 failures", flat)
    # the citation sentence must EXIST — an empty findall would make
    # this gate vacuous under any rewording (the r4 silent-staleness
    # class this test ends)
    assert cites, ("README no longer contains the "
                   "'N oracle matches, 0 failures' selfcheck citation")
    for n in cites:
        for path, summary in arts.items():
            assert int(n) == summary["match"], (
                f"README cites {n} oracle matches but {path} records "
                f"{summary['match']}")
            assert summary["fail"] == 0, (
                f"README claims 0 failures but {path} records "
                f"{summary['fail']}")


def _selfcheck_artifacts(readme_text):
    """The three SELFCHECK files the README cites, loaded."""
    m = re.search(r"`(SELFCHECK_r\d+)\.json` / `(_\w+)` / `(_\w+)`",
                  readme_text)
    assert m, "README no longer cites the selfcheck artifact trio"
    base = m.group(1)
    paths = [f"{base}.json", f"{base}{m.group(2)}.json",
             f"{base}{m.group(3)}.json"]
    out = {}
    for p in paths:
        full = os.path.join(os.path.dirname(README), p)
        assert os.path.exists(full), f"README cites missing artifact {p}"
        with open(full) as f:
            out[p] = json.load(f)["summary"]
    return out


def test_selfcheck_artifacts_cover_live_registry():
    """Freshness gate, separated from the sentence gate above: the cited
    artifacts must have been generated for the CURRENT registry. When a
    query or oracle is added, this is the test that demands a
    `tools/selfcheck.py` regen (instead of corrupting the README's
    citation of the frozen files)."""
    n_q, n_o, n_rows_only = _counts()
    for path, s in _selfcheck_artifacts(open(README).read()).items():
        assert s["total"] == n_q, (
            f"{path} covers {s['total']} queries, registry has {n_q} — "
            "regenerate the selfcheck trio (tools/selfcheck.py)")
        assert s["match"] + s["fail"] == n_o, (
            f"{path} checked {s['match'] + s['fail']} oracles, registry "
            f"has {n_o} — regenerate the selfcheck trio")
        assert s["rows_only"] == n_rows_only, path


def test_oracles_are_subset_of_queries():
    queries, oracles = collect_registry()
    extra = set(oracles) - set(queries)
    assert not extra, f"oracles without a query: {sorted(extra)}"


def test_multimodal_scale_artifact_matches_probe_schema():
    """Probe-to-artifact consistency pin (r11 verdict item 1): in r11
    the probe gained two tiers and a 100x rung but the committed
    MULTIMODAL_SCALE.json kept the old 4-tier, 10x-only schema — a
    committed claim with no committed evidence. This test makes that
    class impossible: the artifact's tier set and rung keys must match
    the probe's own TIERS/DEFAULT_REPS tables, so upgrading the probe
    without regenerating its artifact fails CI."""
    sys_path = os.path.join(os.path.dirname(README), "tools")
    import sys
    sys.path.insert(0, sys_path)
    try:
        from multimodal_scale_probe import DEFAULT_REPS, TIERS
    finally:
        sys.path.remove(sys_path)

    art_path = os.path.join(os.path.dirname(README),
                            "MULTIMODAL_SCALE.json")
    with open(art_path) as f:
        art = json.load(f)

    assert art.get("reps") == list(DEFAULT_REPS), (
        f"artifact reps {art.get('reps')} != probe DEFAULT_REPS "
        f"{list(DEFAULT_REPS)} — rerun tools/multimodal_scale_probe.py")
    expect_tiers = {name for name, _ in TIERS}
    assert set(art.get("tiers", {})) == expect_tiers, (
        f"artifact tiers {sorted(art.get('tiers', {}))} != probe tiers "
        f"{sorted(expect_tiers)} — rerun tools/multimodal_scale_probe.py")
    rungs = ["base"] + [f"x{r}" for r in DEFAULT_REPS]
    for name, entry in art["tiers"].items():
        for rung in rungs:
            assert rung in entry, (f"{name} missing rung {rung} — rerun "
                                   "the probe with its default reps")
            # the artifact's standing claim: zero false pairs at every
            # rung that reports the pair-verdict shape
            if "false_pairs" in entry[rung]:
                assert entry[rung]["false_pairs"] == 0, (name, rung)
            # gate rungs must demonstrate PRECISION on genuinely novel
            # content too (r12 verdict item 2; pin strengthened to
            # EXACT counts in r14 after the image family got its own
            # salted generator): every rung of every batch-vs-index
            # gate must admit ALL of its fresh plants — the old
            # `> 0` pin let the image gate's admitted decay 4→3→2
            # across rungs without failing until it hit zero
            if "tiers" in entry[rung]:
                from big_data_science_project_spark.operators import \
                    multimodal as MM
                planted_fresh = {
                    "ingest_gate_index": MM.INGEST_IMG_FRESH,
                    "audio_gate_index": len(MM.AUDIO_GATE_FRESH),
                    "video_gate_index": len(MM.VIDEO_GATE_FRESH),
                }[name]
                assert (entry[rung]["tiers"].get("admitted", 0)
                        == planted_fresh), (
                    f"{name} {rung}: admitted "
                    f"{entry[rung]['tiers'].get('admitted', 0)} != "
                    f"planted {planted_fresh} — a fresh plant "
                    "collided with the scaled index")


def test_cited_repo_files_exist():
    """The docs a reader follows cite only files that are in the repo.
    A cited path is one under tools/, tests/, perfbench/ or
    big_data_science_project_spark/ (a directory counts when it holds
    a tracked file; a ``file.py::name`` citation counts as its file),
    or a bare ``*.py``/``*.json`` name, which must be a tracked file at
    the root or the basename of one (README's layout tree names nested
    modules bare). Deleting a file therefore fails this test until every
    doc that still tells the reader to run or open it is rewritten.
    FIXTURES.md also cites the reference code's ``feature extraction.py``
    (outside the repo, with a space in its name), which is skipped."""
    import subprocess

    repo = os.path.dirname(README)
    tracked = subprocess.run(
        ["git", "-C", repo, "ls-files"], capture_output=True, text=True,
        check=True).stdout.splitlines()
    basenames = {os.path.basename(t) for t in tracked}
    cite = re.compile(
        r"(?<![\w./-])((?:tools|tests|perfbench|big_data_science_project_spark)"
        r"/[\w./-]*|[\w-]+\.(?:py|json))(?![\w-])")
    missing = []
    for doc in ("README.md", "FIXTURES.md", "TESTDATA.md",
                ".claude/skills/verify/SKILL.md"):
        with open(os.path.join(repo, doc)) as f:
            text = f.read().replace("feature extraction.py", "")
        for path in {m.group(1).rstrip(".") for m in cite.finditer(text)}:
            if "/" not in path:
                ok = path in basenames
            elif path.endswith("/"):
                ok = any(t.startswith(path) for t in tracked)
            else:
                ok = path in tracked
            if not ok:
                missing.append(f"{doc}: {path}")
    assert not missing, f"docs cite files that are not in the repo: {missing}"


def test_selfcheck_trio_generated_at_committed_engine_state():
    """r13 verdict item 5 (process gap: the r13 trio predated the
    round's final engine commits): each cited selfcheck artifact must
    carry the git_head stamp tools/selfcheck.py records, the engine
    tree must have been CLEAN at generation time, and no engine source
    (big_data_science_project_spark/, __spark_entry__.py) may have
    changed between that commit and the repo's HEAD — i.e.
    the committed trio really describes the committed engine."""
    import subprocess

    repo = os.path.dirname(README)
    engine_paths = ["big_data_science_project_spark",
                    "__spark_entry__.py"]
    for path in _selfcheck_artifacts(open(README).read()):
        full = os.path.join(repo, path)
        with open(full) as f:
            s = json.load(f)["summary"]
        assert "git_head" in s, (
            f"{path} has no git_head stamp — regenerate with the "
            "stamped tools/selfcheck.py")
        assert not s.get("engine_dirty"), (
            f"{path} was generated with uncommitted engine changes")
        r = subprocess.run(
            ["git", "-C", repo, "diff", "--name-only",
             f"{s['git_head']}..HEAD", "--"] + engine_paths,
            capture_output=True, text=True)
        assert r.returncode == 0, (
            f"{path}'s stamped commit {s['git_head'][:12]} is not in "
            "this repo's history")
        changed = r.stdout.strip().splitlines()
        assert not changed, (
            f"engine source changed after {path} was generated: "
            f"{changed} — regenerate the selfcheck trio")
