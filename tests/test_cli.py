"""CLI + S3Pipeline facade tests: the reference-flag surface drives the
verbs end-to-end and failures exit with the reference codes."""

from __future__ import annotations

import pytest

from s3spark.cli import FILE_VERBS, NON_VERB_DESTS, build_parser, main


@pytest.fixture()
def bucket(tmp_path, spark):
    # `spark` fixture requested so the CLI's get_spark() reuses the
    # session instead of building one per invocation
    (tmp_path / "data").mkdir()
    (tmp_path / "data" / "a.csv").write_text("1")
    (tmp_path / "data" / "b.csv").write_text("2")
    (tmp_path / "data" / "notes.txt").write_text("3")
    return tmp_path


def url(p):
    return f"file://{p}"


def test_cli_download_regex(bucket, tmp_path, capsys):
    out = tmp_path / "dl"
    rc = main(
        [
            "download",
            "--bucket-name", url(bucket),
            "--source-folder-name", "data",
            "--source-file-name-match-type", "regex_match",
            "--source-file-name", r"\.csv$",
            "--destination-url", url(out),
        ]
    )
    assert rc == 0
    assert sorted(p.name for p in out.iterdir()) == ["a.csv", "b.csv"]
    printed = capsys.readouterr().out
    assert "1 of 2" in printed and "2 of 2" in printed


def test_cli_move_exact_and_remove(bucket, tmp_path, capsys):
    dest = tmp_path / "bucket2"
    rc = main(
        [
            "move",
            "--source-bucket-name", url(bucket),
            "--destination-bucket-name", url(dest),
            "--source-folder-name", "data",
            "--source-file-name-match-type", "exact_match",
            "--source-file-name", "notes.txt",
            "--destination-folder-name", "archive",
        ]
    )
    assert rc == 0
    assert (dest / "archive" / "notes.txt").exists()
    assert not (bucket / "data" / "notes.txt").exists()

    rc = main(
        [
            "remove",
            "--bucket-name", url(bucket),
            "--source-folder-name", "data",
            "--source-file-name-match-type", "regex_match",
            "--source-file-name", r"a\.csv$",
        ]
    )
    assert rc == 0
    assert not (bucket / "data" / "a.csv").exists()


def test_cli_upload_regex(bucket, tmp_path, capsys):
    remote = tmp_path / "remote-bucket"
    rc = main(
        [
            "upload",
            "--bucket-name", url(remote),
            "--source-url", url(bucket),
            "--source-folder-name", "data",
            "--source-file-name-match-type", "regex_match",
            "--source-file-name", r"\.csv$",
            "--destination-folder-name", "landing/raw",
        ]
    )
    assert rc == 0
    assert sorted(p.name for p in (remote / "landing" / "raw").iterdir()) == [
        "a.csv",
        "b.csv",
    ]


def test_cli_exit_codes_match_reference(bucket, tmp_path, capsys):
    # missing exact file → 201 (EXIT_CODE_FILE_NOT_FOUND)
    rc = main(
        [
            "download",
            "--bucket-name", url(bucket),
            "--source-file-name-match-type", "exact_match",
            "--source-file-name", "ghost.bin",
            "--destination-url", url(tmp_path / "x"),
        ]
    )
    assert rc == 201
    # invalid regex → 203
    rc = main(
        [
            "remove",
            "--bucket-name", url(bucket),
            "--source-file-name-match-type", "regex_match",
            "--source-file-name", "[bad",
        ]
    )
    assert rc == 203
    # zero matches → 1
    rc = main(
        [
            "download",
            "--bucket-name", url(bucket),
            "--source-folder-name", "data",
            "--source-file-name-match-type", "regex_match",
            "--source-file-name", r"zzz\d+$",
            "--destination-url", url(tmp_path / "x"),
        ]
    )
    assert rc == 1


def test_cli_query_runs_registered_operator(bucket, sf_dir, capsys):
    rc = main(["query", "agg_groupby", "--data-dir", sf_dir, "--limit", "3"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "l_returnflag" in out


def test_pipeline_dataset_roundtrip(spark, tmp_path, sf_dir):
    from s3spark.pipeline import S3Pipeline

    pipe = S3Pipeline(spark)
    df = pipe.read(f"file://{sf_dir}/nation.parquet")
    pipe.write(df, url(tmp_path / "nation_out"), fmt="parquet", mode="overwrite")
    back = pipe.read(url(tmp_path / "nation_out"))
    assert back.count() == df.count()
    assert set(back.columns) == set(df.columns)


def test_cli_move_failure_prints_completed_prefix(
    bucket, tmp_path, capsys, monkeypatch
):
    """An auth failure at file k of a move exits 202 (not a raw JVM
    error), prints files 1..k-1 as done, and leaves k..N at the source."""
    from s3spark import fs

    real = fs._copy
    calls = []

    def flaky(*a, **kw):
        calls.append(a[1])
        if len(calls) == 2:
            raise RuntimeError("AccessDenied: unable to load credentials")
        return real(*a, **kw)

    monkeypatch.setattr(fs, "_copy", flaky)
    dest = tmp_path / "bucket2"
    rc = main(
        [
            "move",
            "--source-bucket-name", url(bucket),
            "--destination-bucket-name", url(dest),
            "--source-folder-name", "data",
            "--source-file-name-match-type", "regex_match",
            "--source-file-name", ".",
            "--destination-folder-name", "archive",
        ]
    )
    assert rc == 202
    captured = capsys.readouterr()
    assert captured.out.splitlines() == [
        f"move: 1 of 3: file:{bucket}/data/a.csv -> {url(dest)}/archive/a.csv"
    ]
    assert "s3spark move:" in captured.err
    assert (dest / "archive" / "a.csv").exists()
    assert not (bucket / "data" / "a.csv").exists()
    assert (bucket / "data" / "b.csv").exists()
    assert (bucket / "data" / "notes.txt").exists()


@pytest.mark.parametrize("sub", sorted(FILE_VERBS))
def test_file_subcommand_dests_are_the_pipeline_keywords(sub):
    """main passes a file subcommand's parsed flags to its S3Pipeline
    method by dest, so the parser's dests other than the subcommand,
    credential and config ones are exactly that method's keywords."""
    import argparse
    import inspect

    from s3spark.pipeline import S3Pipeline

    subparsers = next(
        a for a in build_parser()._actions if isinstance(a, argparse._SubParsersAction)
    )
    dests = {a.dest for a in subparsers.choices[sub]._actions} - {"help", *NON_VERB_DESTS}
    params = inspect.signature(getattr(S3Pipeline, FILE_VERBS[sub])).parameters
    assert dests == {n for n, p in params.items() if p.kind is p.KEYWORD_ONLY}
