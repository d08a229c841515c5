"""The spark-submit entrypoint end to end, in a SUBPROCESS (job.main
stops its SparkSession — running it in-process would kill the suite's
shared session fixture): args → session → one-pass audit-committed
extraction → resumable second run → bench JSON line."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# job.main, with the session's confs printed as one JSON line just
# before the job stops it
_JOB_REPORTING_CONF = """
import json, sys
from pyspark.sql import SparkSession
from pdf_parser_spark import job

stop = SparkSession.stop

def report_then_stop(self):
    keys = ("spark.master", "spark.sql.shuffle.partitions",
            "spark.sql.ansi.enabled", "spark.sql.mapKeyDedupPolicy")
    print(json.dumps({"conf": {k: self.conf.get(k) for k in keys}}))
    stop(self)

SparkSession.stop = report_then_stop
sys.exit(job.main(sys.argv[1:]))
"""


def _run_job(args):
    """(bench payload, session confs) of one job run."""
    proc = subprocess.run(
        [sys.executable, "-c", _JOB_REPORTING_CONF, *args],
        cwd=REPO, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    *_, payload, conf = [json.loads(l) for l in proc.stdout.splitlines() if l.startswith("{")]
    return payload, conf["conf"]


def test_job_main_runs_and_resumes(tmp_path):
    from pdf_parser_spark.synth.pages import write_pages_parquet

    in_dir = tmp_path / "pages"
    in_dir.mkdir()
    write_pages_parquet(str(in_dir / "p1.parquet"), 60)
    out = str(tmp_path / "out")
    base = ["--input", str(in_dir), "--output", out,
            "--buckets", "4", "--local", "4", "--bench"]

    payload, conf = _run_job(["--run-id", "t1", *base])
    assert payload["metric"] == "extraction_docs_per_sec"
    assert payload["docs"] == 60
    assert payload["result"]["processed"] == [0, 1, 2, 3]
    assert os.path.isdir(os.path.join(out, "extracted"))
    assert os.path.isdir(os.path.join(out, "audit"))
    # the job's session is session.get_spark's
    assert conf == {
        "spark.master": "local[4]",
        "spark.sql.shuffle.partitions": "4",
        "spark.sql.ansi.enabled": "false",
        "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
    }

    # second invocation resumes: everything committed, nothing reruns
    payload2, _ = _run_job(["--run-id", "t2", *base])
    assert payload2["result"]["processed"] == []
    assert payload2["result"]["skipped"] == [0, 1, 2, 3]


def test_job_decrypt_password_is_utf8(tmp_path):
    """--decrypt-password reaches the handler as UTF-8 bytes, so a
    password outside latin-1 opens its AESV3 document."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_parser_spark.synth.pdfgen import PdfBuilder

    password = "pässwörd €"
    b = PdfBuilder(encrypt_rc4={"mode": "aesv3", "r": 5, "user_pw": password.encode("utf-8")})
    b.new_page().text(72, 720, "Euro-locked body")
    in_dir = tmp_path / "pages"
    in_dir.mkdir()
    pq.write_table(
        pa.table({
            "url": ["pw://euro"],
            "warc_ts": pa.array([dt.datetime(2024, 1, 1)], pa.timestamp("us")),
            "html": pa.array([b.build()], pa.binary()),
            "text": [b.golden_doc_text()],
            "lang": ["en"],
        }),
        in_dir / "p1.parquet",
    )
    out = tmp_path / "out"
    payload, _ = _run_job(["--input", str(in_dir), "--output", str(out), "--buckets", "1",
                           "--local", "2", "--bench", "--decrypt",
                           "--decrypt-password", password])
    assert payload["docs"] == 1
    row = pq.read_table(out / "extracted").to_pylist()[0]
    assert row["error_code"] is None, row["error_message"]
    assert row["decrypted"] and row["text"] == "Euro-locked body"


def test_job_mode_is_first_valid_or_legacy(capsys):
    """The CLI resumes through the audited bucket commit alone: any other
    ``--mode`` is an argparse error before a session starts."""
    from pdf_parser_spark import job

    with pytest.raises(SystemExit) as exc:
        job.main(["--input", "in", "--output", "out", "--mode", "stream"])
    assert exc.value.code == 2
    assert "invalid choice: 'stream'" in capsys.readouterr().err
