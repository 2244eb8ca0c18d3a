"""Engine benchmark package: run.py is the command."""
