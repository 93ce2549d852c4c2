"""CLI front-end with the reference's exact flag vocabulary.

A user of the reference can switch:

    python download_file.py --bucket-name B --source-file-name-match-type
        regex_match --source-file-name 'x\\.csv$' ...
→
    python -m s3spark download --bucket-name B --source-file-name-match-type
        regex_match --source-file-name 'x\\.csv$' --destination-url file:///tmp/out

Flags per subcommand mirror the reference parsers
(download_file.py:10-56, upload_file.py:12-63, move_file.py:16-68,
remove_files.py:17-54); failures exit with the reference's numeric
codes (exit_codes.py:1-3, zero-match exit 1).
"""

from __future__ import annotations

import argparse
import sys

from s3spark.errors import S3SparkError
from s3spark.pipeline import S3Pipeline

MATCH_CHOICES = ("exact_match", "regex_match")


def _common_creds(p: argparse.ArgumentParser) -> None:
    p.add_argument("--aws-access-key-id", dest="aws_access_key_id", required=False)
    p.add_argument(
        "--aws-secret-access-key", dest="aws_secret_access_key", required=False
    )
    p.add_argument("--aws-default-region", dest="aws_default_region", required=False)
    p.add_argument("--s3-endpoint", dest="s3_endpoint", required=False)
    # reference: --s3-config fed botocore.client.Config (a Python-literal
    # dict on the CLI); here it maps onto fs.s3a.* (s3spark.s3config)
    p.add_argument("--s3-config", dest="s3_config", default=None, required=False)


def _source_args(p: argparse.ArgumentParser) -> None:
    p.add_argument(
        "--source-file-name-match-type",
        dest="source_file_name_match_type",
        choices=MATCH_CHOICES,
        required=True,
    )
    p.add_argument("--source-file-name", dest="source_file_name", required=True)
    p.add_argument(
        "--source-folder-name", dest="source_folder_name", default="", required=False
    )


def _dest_args(p: argparse.ArgumentParser) -> None:
    p.add_argument(
        "--destination-folder-name",
        dest="destination_folder_name",
        default="",
        required=False,
    )
    p.add_argument(
        "--destination-file-name",
        dest="destination_file_name",
        default=None,
        required=False,
    )


def build_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(prog="s3spark")
    sub = parser.add_subparsers(dest="verb", required=True)

    d = sub.add_parser("download", help="remote → local (reference download)")
    d.add_argument("--bucket-name", dest="bucket_name", required=True)
    _source_args(d)
    d.add_argument("--destination-url", dest="destination_url", default="file://.")
    _dest_args(d)
    _common_creds(d)

    u = sub.add_parser("upload", help="local → remote (reference upload)")
    u.add_argument("--bucket-name", dest="bucket_name", required=True)
    u.add_argument("--source-url", dest="source_url", default="file://.")
    _source_args(u)
    _dest_args(u)
    _common_creds(u)
    # reference: --extra-args fed S3 ExtraArgs (SSE/ACL/...) as a
    # Python-literal dict (upload_file.py:231)
    u.add_argument("--extra-args", dest="extra_args", default=None, required=False)

    m = sub.add_parser("move", help="remote → remote copy+delete (reference move)")
    m.add_argument("--source-bucket-name", dest="source_bucket_name", required=True)
    m.add_argument(
        "--destination-bucket-name", dest="destination_bucket_name", required=True
    )
    _source_args(m)
    _dest_args(m)
    _common_creds(m)

    r = sub.add_parser("remove", help="delete matched objects (reference remove)")
    r.add_argument("--bucket-name", dest="bucket_name", required=True)
    _source_args(r)
    _common_creds(r)

    q = sub.add_parser("query", help="run a registered analytic operator")
    q.add_argument("name")
    q.add_argument("--data-dir", dest="data_dir", required=True)
    q.add_argument("--limit", type=int, default=20)
    _common_creds(q)

    ls = sub.add_parser("list", help="list a prefix as (path, name, size, mtime)")
    ls.add_argument("--bucket-name", dest="bucket_name", required=True)
    ls.add_argument(
        "--source-folder-name", dest="source_folder_name", default="", required=False
    )
    _common_creds(ls)

    return parser


# file subcommand -> S3Pipeline method.  build_parser gives each flag
# of a file subcommand the dest of the method keyword it feeds.
FILE_VERBS = {"download": "ingest", "upload": "publish", "move": "move", "remove": "remove"}
# the S3Pipeline constructor's keywords
CREDENTIAL_DESTS = (
    "aws_access_key_id", "aws_secret_access_key", "aws_default_region", "s3_endpoint"
)
# dests that pick the subcommand or configure the session, not a verb
NON_VERB_DESTS = ("verb", *CREDENTIAL_DESTS, "s3_config", "extra_args")


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from s3spark.s3config import extra_args_to_hadoop, s3_config_to_hadoop

    try:
        hadoop_conf = s3_config_to_hadoop(getattr(args, "s3_config", None))
        hadoop_conf.update(extra_args_to_hadoop(getattr(args, "extra_args", None)))
    except (ValueError, SyntaxError) as e:
        print(f"s3spark: invalid --s3-config/--extra-args literal: {e}", file=sys.stderr)
        return 1
    pipe = S3Pipeline(
        **{k: getattr(args, k, None) for k in CREDENTIAL_DESTS}, hadoop_conf=hadoop_conf
    )
    try:
        if args.verb in FILE_VERBS:
            kwargs = {k: v for k, v in vars(args).items() if k not in NON_VERB_DESTS}
            res = getattr(pipe, FILE_VERBS[args.verb])(**kwargs)
        elif args.verb == "list":
            pipe.list(args.bucket_name, args.source_folder_name).show(
                100, truncate=False
            )
            return 0
        elif args.verb == "query":
            pipe.query(args.name, args.data_dir).show(args.limit, truncate=False)
            return 0
        else:  # pragma: no cover
            return 2
    except S3SparkError as e:
        # a verb that failed part-way reports the files it already
        # handled, then exits with the reference exit-code taxonomy
        # (exit_codes.py:1-3; exit 1 on zero matches)
        _print_files(args.verb, e.completed, e.planned)
        print(f"s3spark {args.verb}: {e}", file=sys.stderr)
        return e.exit_code
    _print_files(args.verb, res.files, res.count)
    return 0


def _print_files(verb: str, files, total: int) -> None:
    for i, (src, dst) in enumerate(files, start=1):
        # reference prints per-file "i of N" progress
        print(f"{verb}: {i} of {total}: {src}" + (f" -> {dst}" if dst else ""))


if __name__ == "__main__":  # pragma: no cover
    sys.exit(main())
