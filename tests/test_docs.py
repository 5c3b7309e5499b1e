"""The commands the docs tell a reader to run name scripts that exist: every
``python X.py`` / ``python3 X.py`` line in a fenced code block of the
README and the verify skill must point at a file in the repo."""

import os
import re

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOCS = ("README.md", os.path.join(".claude", "skills", "verify", "SKILL.md"))
_FENCE_RE = re.compile(r"^```.*?^```", re.MULTILINE | re.DOTALL)
_SCRIPT_RE = re.compile(r"(?:^|[\s;&|(])python3?\s+([\w./-]+\.py)\b")


def _scripts(text: str) -> list[str]:
    return [m.group(1) for block in _FENCE_RE.findall(text)
            for m in _SCRIPT_RE.finditer(block)]


@pytest.mark.parametrize("doc", DOCS)
def test_documented_scripts_exist(doc):
    with open(os.path.join(ROOT, doc), encoding="utf-8") as f:
        scripts = _scripts(f.read())
    assert scripts, f"{doc} documents no python script"
    missing = sorted({s for s in scripts
                      if not os.path.isfile(os.path.join(ROOT, s))})
    assert missing == [], f"{doc} runs scripts that do not exist: {missing}"
