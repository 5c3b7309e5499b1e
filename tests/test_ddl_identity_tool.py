"""tools/ddl_identity.py: the comparison step fails on a one-byte change."""

from tools.ddl_identity import compare, report


def _records(pdf_digest: str) -> dict:
    return {"DB2_CORPUS": {"ddl": "CREATE OR REPLACE ICEBERG TABLE S.T (",
                           "pdf": pdf_digest},
            "seed1/00": {"ddl": "", "ewi_count": "3"}}


def test_one_byte_difference_fails(capsys):
    base, change = _records("ab12"), _records("ab13")
    assert compare(base, change) == (
        {"ddl": [2, 0], "ewi_count": [1, 0], "pdf": [0, 1]},
        [("DB2_CORPUS", "pdf")])
    assert report(base, change, "parent vs change") == 1
    assert "DIFFERENT DB2_CORPUS pdf" in capsys.readouterr().out


def test_identical_records_pass(capsys):
    assert report(_records("ab12"), _records("ab12"), "same") == 0
    assert "different 0" in capsys.readouterr().out


def test_output_on_one_side_only_differs():
    base = _records("ab12")
    change = _records("ab12")
    del change["seed1/00"]["ewi_count"]
    assert compare(base, change)[1] == [("seed1/00", "ewi_count")]
