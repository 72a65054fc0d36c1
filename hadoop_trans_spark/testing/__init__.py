"""Test-support utilities (oracle differential harness, synthetic media
tables)."""
