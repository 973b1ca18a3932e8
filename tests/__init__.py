import os

# The checkout these tests belong to: CLI subprocesses run its code.
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
