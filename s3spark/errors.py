"""Typed error taxonomy preserving the reference's numeric exit codes.

Reference: /root/reference/amazons3_blueprints/exit_codes.py:1-3
    EXIT_CODE_FILE_NOT_FOUND = 201
    EXIT_CODE_INVALID_CREDENTIALS = 202
    EXIT_CODE_INVALID_REGEX = 203
plus the generic ``sys.exit(1)`` on zero regex matches
(upload_file.py:241-243, move_file.py:191-193, remove_files.py:144-146).
"""

EXIT_CODE_FILE_NOT_FOUND = 201
EXIT_CODE_INVALID_CREDENTIALS = 202
EXIT_CODE_INVALID_REGEX = 203
EXIT_CODE_NO_MATCHES = 1


class S3SparkError(Exception):
    """Base error; ``exit_code`` mirrors the reference taxonomy.

    A verb that fails part-way sets ``completed`` to the (source,
    destination) pairs it finished before the failure (destination
    None for remove) and ``planned`` to the number of files it set
    out to handle, so a caller can report what already happened.
    """

    exit_code = 1
    completed: tuple = ()
    planned: int = 0


class S3FileNotFound(S3SparkError):
    """Object/bucket/prefix does not exist (reference exit 201)."""

    exit_code = EXIT_CODE_FILE_NOT_FOUND


class S3InvalidCredentials(S3SparkError):
    """Connection/auth failure (reference exit 202, move_file.py:117-122)."""

    exit_code = EXIT_CODE_INVALID_CREDENTIALS


class S3InvalidRegex(S3SparkError):
    """Bad match pattern (reference exit 203)."""

    exit_code = EXIT_CODE_INVALID_REGEX


class S3NoMatches(S3SparkError):
    """Zero files matched the pattern (reference ``sys.exit(1)``)."""

    exit_code = EXIT_CODE_NO_MATCHES


class S3TransferFailed(S3SparkError):
    """A copy or delete failed outside the taxonomy above (exit 1, as
    the reference's uncaught exception would)."""

    exit_code = 1
