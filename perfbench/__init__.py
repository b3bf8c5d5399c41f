"""sketchlib benchmark harness: see run.py."""
